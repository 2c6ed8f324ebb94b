package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, LatestPerKey, RangeJoin, Ranks, Salting, Sampling, ServingJoin, Sessionize, Sketches, TrailingWindows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity feature-engineering queries over the `events` table
  * (`user_id` plays `cc_num`, `ts` plays `datetime`, `value` plays `amount`
  * — FIXTURES.md §1 vs TESTDATA.md).
  *
  * Arithmetic discipline for the DuckDB oracle gate: money amounts are
  * 2-decimal doubles, so window SUMs are computed on integer cents
  * (`round(value*100)::bigint`) and averages derived as
  * `(sum_cents / cnt) / 100.0`. Integer sums are order-independent, so the
  * result is bit-identical regardless of partitioning — double-summation
  * order would not be. Raw per-row doubles pass through untouched.
  */
object FeatureQueries {

  private val ShortSecs = 600L // 10 minutes  (reference w1)
  private val LongSecs = 604800L // 1 week    (reference w2)
  private val CutoffSecs = 600L // staleness  (reference EVAL_CUTOFF)

  /** Events (with `ord_us` from Tables.events) plus integer-cents amounts. */
  private def prepared(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .events(spark, sfDir)
      .withColumn("cents", round(col("value") * 100).cast("long"))

  /** W1–W4 + P1: trailing 10-minute and 1-week RANGE window count/avg per
    * user with the three ratio features, one row per event.
    */
  def trailingAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val df = withAggColumns(prepared(spark, sfDir))
    df.select(
        col("event_id"),
        col("user_id"),
        col("amount"),
        col("num_trans_last_10m"),
        col("avg_amt_last_10m"),
        col("num_trans_last_1w"),
        col("avg_amt_last_1w"),
        col("amt_ratio1"),
        col("amt_ratio2"),
        col("count_ratio"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** Shared aggregate block: both horizons over ONE shuffle/sort. */
  private def withAggColumns(prep: DataFrame): DataFrame = {
    val agg = TrailingWindows.aggregates(
      prep.withColumnRenamed("value", "amount"),
      key = "user_id",
      ts = "ts",
      value = "cents",
      horizons = Seq("10m" -> ShortSecs, "1w" -> LongSecs))
    agg
      .withColumn("num_trans_last_10m", col("cnt_10m"))
      .withColumn("avg_amt_last_10m", col("sum_10m") / col("cnt_10m") / lit(100.0))
      .withColumn("num_trans_last_1w", col("cnt_1w"))
      .withColumn("avg_amt_last_1w", col("sum_1w") / col("cnt_1w") / lit(100.0))
      .withColumn("amt_ratio1", col("avg_amt_last_10m") / col("avg_amt_last_1w"))
      .withColumn("amt_ratio2", col("amount") / col("avg_amt_last_1w"))
      .withColumn("count_ratio", col("num_trans_last_10m") / col("num_trans_last_1w"))
  }

  /** W5 + P2/P3: dense_rank latest-per-key compaction of the 1-week
    * aggregates (the store-ingest projection). Tied rows at a key's max
    * timestamp share the same RANGE frame, hence identical feature values.
    */
  /** w7/S5: the ONLINE STORE's contents after the batch upsert lifecycle —
    * the gate that checks the store's last-write-wins `put` itself, not
    * just the latest-per-key frame feeding it (that is w5). Three
    * [[graft.operators.FeatureAggJob]] runs hit one store:
    *
    *   1. a STALE half-corpus run (events before the time midpoint) —
    *      seeds the store;
    *   2. the FULL corpus — every key's row must win (newer-or-equal
    *      event time; keys whose events all predate the cutoff re-put
    *      identical values, since trailing frames are per-key);
    *   3. the stale run AGAIN — every put must now LOSE the LWW race.
    *
    * Final contents are therefore exactly the full-corpus snapshot; a
    * store that ignored event-time ordering (always-overwrite, or
    * always-keep-first) diverges the hash. The oracle derives the same
    * frame from the raw put log: trailing 1-week count/avg at each key's
    * LATEST event — LWW-by-event-time as DuckDB's dense_rank-over-time
    * (the put-log max_by). The three `upsertBatch` hops are each the
    * documented |keys|-row serving boundary, not distributed operators.
    */
  def storeContents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(col("user_id"), col("ts"), col("ord_us"), col("cents"))
    // scale-free time midpoint as a 1-row broadcast, no driver hop
    val cut = broadcast(ev.agg(expr("(min(ord_us) + max(ord_us)) div 2").as("__cut")))
    val stale = ev.crossJoin(cut).filter(col("ord_us") < col("__cut")).drop("__cut")
    val store = new graft.store.OnlineFeatureStore(Seq("cnt_1w", "avg_1w"))
    def run(half: DataFrame): Unit =
      // drop the job's cached aggregate frame right away — this gate only
      // wants the store side effect, and bench reps would stack 3 caches
      // per invocation otherwise
      graft.operators.FeatureAggJob.run(half, "user_id", "ts", "cents", store)
        .aggregates.unpersist()
    run(stale) // seed
    run(ev) // full corpus: every key overwritten (or equal-time re-put)
    run(stale) // replayed stale puts must all lose
    store
      .snapshot(spark)
      .select(
        col("key"),
        col("event_time_us"),
        col("cnt_1w").cast("long").as("cnt_1w"),
        col("avg_1w"))
      .transform(orderedOutput(_, col("key")))
  }

  /** w31: the online store under record TTL ([[graft.store
    * .OnlineFeatureStore.snapshotLive]]) — w7's feature job feeds the
    * store once, then the serving view expires every key whose LATEST
    * event is a week or more behind the corpus clock (max event time —
    * the deterministic "now" every serving gate uses). The reference
    * online store grew exactly this record-level TtlDuration; the gate
    * pins the read-side semantics (expiry is a filter on the LWW
    * winner's event time, strict at the boundary), and the spec pins
    * getLive/expire parity. The oracle re-derives the surviving view
    * from the raw put log, so a key kept past its TTL — or expired by
    * its STALE event instead of its latest — diverges the hash.
    */
  def storeTtl(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(col("user_id"), col("ts"), col("ord_us"), col("cents"))
    val store = new graft.store.OnlineFeatureStore(Seq("cnt_1w", "avg_1w"))
    graft.operators.FeatureAggJob.run(ev, "user_id", "ts", "cents", store).aggregates.unpersist()
    val asOf = ev.agg(max(col("ord_us"))).head().getLong(0)
    store
      .snapshotLive(spark, asOf, WeekUs)
      .select(
        col("key"),
        col("event_time_us"),
        col("cnt_1w").cast("long").as("cnt_1w"),
        col("avg_1w"))
      .transform(orderedOutput(_, col("key")))
  }

  def latestPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = withAggColumns(prepared(spark, sfDir))
    LatestPerKey
      .denseRankLatest(agg, col("user_id"), col("ord_us"))
      .select(
        col("user_id"),
        col("ord_us").as("ts_us"),
        col("num_trans_last_1w"),
        col("avg_amt_last_1w"))
      .distinct()
      .transform(orderedOutput(_, col("user_id")))
  }

  /** J1 + J2 + F1 (serving side): enrich the last 24 h of events against the
    * latest-per-key snapshot with the 600 s staleness cutoff and zero-fill.
    * "now" is the max event time in the table (deterministic clock — SURVEY
    * §7.4 risk 6).
    */
  def enrichStaleness(spark: SparkSession, sfDir: String): DataFrame = {
    val prep = prepared(spark, sfDir)
    val agg = withAggColumns(prep)

    // max_by aggregation form instead of dense_rank+DISTINCT: rows tied at
    // a key's max timestamp share the same RANGE frame, so every selected
    // column is identical across ties and the arbitrary-survivor semantics
    // produce the same snapshot — at one hash aggregate instead of a
    // second sort (the oracle keeps the dense_rank+DISTINCT spelling;
    // results are equal by the tie argument).
    val snapshot = LatestPerKey
      .maxByOrd(
        agg.select(
          col("user_id"),
          col("ord_us"),
          col("num_trans_last_10m").as("cnt_short"),
          col("avg_amt_last_10m").as("avg_short"),
          col("num_trans_last_1w").as("cnt_long"),
          col("avg_amt_last_1w").as("avg_long")),
        "user_id",
        "ord_us")
      .withColumnRenamed("ord_us", "snap_ts_us")

    val nowDf = prep.agg(max(col("ord_us")).as("now_us"))
    val recent = prep
      .withColumnRenamed("value", "amount")
      .crossJoin(broadcast(nowDf))
      .filter(col("ord_us") > col("now_us") - lit(86400L * 1000000L))

    ServingJoin
      .enrich(
        recent,
        snapshot,
        key = "user_id",
        valueCol = "amount",
        nowUs = col("now_us"),
        cutoffSeconds = CutoffSecs)
      .select(
        col("event_id"),
        col("user_id"),
        col("amount"),
        col("num_recent"),
        col("avg_recent"),
        col("amt_ratio1"),
        col("amt_ratio2"),
        col("count_ratio"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** j3: general as-of join ([[AsOfJoin.asof]]) — every event enriched
    * with the user's latest snapshot at-or-before its own time; snapshots
    * are every 10th event (deterministic id-mod sample), grouped to unique
    * (user, ts) so the match is unambiguous. The oracle is DuckDB's NATIVE
    * `ASOF LEFT JOIN`, so the union+window plan is gated against an
    * independent first-class implementation of the semantics, not a
    * transliteration of itself. No-match rows coalesce to -1 both sides.
    */
  def asofSnapshots(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select("event_id", "user_id", "ord_us", "cents")
    val snaps = ev
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("user_id"), col("ord_us").as("snap_ts"), col("cents"))
      .groupBy(col("user_id"), col("snap_ts"))
      .agg(max(col("cents")).as("snap_cents"))
    AsOfJoin
      .asof(ev, snaps, "user_id", "ord_us", "snap_ts", Seq("snap_cents"))
      .select(
        col("event_id"),
        col("user_id"),
        col("ord_us"),
        col("cents"),
        coalesce(col("asof_ts"), lit(-1L)).as("asof_ts"),
        coalesce(col("snap_cents"), lit(-1L)).as("snap_cents"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** j11: point-in-time multi-feature-group training-set builder — the
    * feature-store workflow the reference's training path approximates
    * with a single pre-joined CSV (`notebooks/3_train_and_deploy_model
    * .ipynb:105-149`): label rows joined against SEVERAL independently
    * maintained feature groups, each AS OF the label's own timestamp, so
    * no feature value from the label's future (or its own still-open
    * aggregation window) can leak into training.
    *
    * Two groups with deliberately different publication cadences:
    *
    *   - `fg_daily` — a batch-materialized per-(user, day) rollup whose
    *     snapshot becomes visible only at `(day+1)·86400s` (a closed
    *     day): a label event mid-day sees YESTERDAY's rollup, never the
    *     partial day it sits in — the point-in-time contract batch
    *     feature pipelines must honor;
    *   - `fg_profile` — streaming-style point upserts (every 10th event),
    *     visible from their own event time (the reference's store-write
    *     path, `S5`/`S6`).
    *
    * Both joins ride [[AsOfJoin.asof]] (union + one keyed last-ignorenulls
    * window — linear, no range BNLJ), chained: two user-keyed
    * exchange+sort passes TOTAL for any number of label rows, each
    * further group adding one more — the plan a 1000-executor training-set
    * build wants. The oracle is DuckDB's NATIVE chained `ASOF LEFT JOIN`,
    * an independent first-class implementation of the semantics.
    * `ord_us div/`//` day bucketing is exact: `ord_us >= 0` always
    * (truncation == floor on non-negative operands, the repo-wide
    * discipline).
    */
  def trainingDataset(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = prepared(spark, sfDir).select("event_id", "user_id", "ord_us", "cents")
    val labels = ev
      .filter(pmod(col("event_id"), lit(5)) === 0)
      .select(
        col("event_id"),
        col("user_id"),
        col("ord_us"),
        when(col("cents") >= 15000L, lit(1L)).otherwise(lit(0L)).as("label"))
    val fgDaily = ev
      .groupBy(col("user_id"), expr(s"ord_us div ${dayUs}L").as("day"))
      .agg(count(lit(1)).as("n_day"), sum(col("cents")).as("day_cents"))
      .select(
        col("user_id"),
        ((col("day") + 1L) * lit(dayUs)).as("avail_us"),
        col("n_day"),
        col("day_cents"))
    val fgProfile = ev
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .groupBy(col("user_id"), col("ord_us").as("snap_us"))
      .agg(max(col("cents")).as("snap_cents"))
    val withDaily = AsOfJoin
      .asof(labels, fgDaily, "user_id", "ord_us", "avail_us", Seq("n_day", "day_cents"))
      .withColumnRenamed("asof_ts", "daily_asof")
    AsOfJoin
      .asof(withDaily, fgProfile, "user_id", "ord_us", "snap_us", Seq("snap_cents"))
      .select(
        col("event_id"),
        col("user_id"),
        col("ord_us"),
        col("label"),
        coalesce(col("n_day"), lit(0L)).as("n_day"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"),
        coalesce(col("daily_asof"), lit(-1L)).as("daily_asof_us"),
        coalesce(col("snap_cents"), lit(-1L)).as("snap_cents"),
        coalesce(col("asof_ts"), lit(-1L)).as("profile_asof_us"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** s4: deterministic stratified sampling ([[Sampling]]) — strata by
    * user-id mod 4 at rates 50%/25%/12.5%, stratum 3 dropped entirely.
    * The draw (`u8`) is part of the output, so the gate pins the sampling
    * decision itself, not just the surviving row set.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables
      .events(spark, sfDir)
      .select(
        col("event_id"),
        col("user_id"),
        pmod(col("user_id"), lit(4L)).as("stratum"))
    Sampling
      .stratified(
        ev,
        "event_id",
        col("stratum"),
        "smp",
        Seq(0L -> "80000000", 1L -> "40000000", 2L -> "20000000"))
      .withColumn("u8", Sampling.hashUniformHex("smp", col("event_id")))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** w7: gap sessionization ([[Sessionize]]) — 1-hour gap over each user's
    * event stream, rolled up to one row per session with exact-integer
    * spend. One shuffle by user; both window layers share a single sort.
    */
  private val SessionGapUs = 3600L * 1000000L

  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    Sessionize
      .sessionRollup(
        prepared(spark, sfDir).select("user_id", "ord_us", "cents"),
        key = "user_id",
        tsUs = "ord_us",
        gapUs = SessionGapUs,
        valueCol = "cents")
      .transform(orderedOutput(_, col("user_id"), col("session_idx")))

  /** j4: keyless interval-containment join via [[RangeJoin.binnedContains]].
    * Every 50th event opens a global 30-minute interval; each event is
    * enriched with how many open intervals contain it and their total
    * weight. The oracle is DuckDB's native inequality join (IEJoin) — an
    * independent first-class implementation of the semantics — while the
    * Spark plan is the binned equi-join (10-minute bins), asserted
    * BNLJ-free in PlanPostureSpec.
    */
  private val IntervalSpanUs = 1800L * 1000000L
  private val RangeBinUs = 600L * 1000000L

  def rangeJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select("event_id", "user_id", "ord_us", "cents")
    val intervals = ev
      .filter(pmod(col("event_id"), lit(50)) === 0)
      .select(
        col("event_id").as("interval_id"),
        col("ord_us").as("start_us"),
        (col("ord_us") + IntervalSpanUs).as("end_us"),
        col("cents").as("weight"))
    val hits = RangeJoin
      .binnedContains(
        ev.select("event_id", "ord_us"),
        "ord_us",
        intervals,
        "start_us",
        "end_us",
        RangeBinUs)
      .groupBy("event_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("weight")).as("w_sum"),
        max(col("interval_id")).as("last_interval"))
    ev.select("event_id", "ord_us")
      .join(hits, Seq("event_id"), "left")
      .select(
        col("event_id"),
        col("ord_us"),
        coalesce(col("n_intervals"), lit(0L)).as("n_intervals"),
        coalesce(col("w_sum"), lit(0L)).as("w_sum"),
        coalesce(col("last_interval"), lit(-1L)).as("last_interval"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** s5: deterministic train/val/test split ([[Sampling.splitLabel]]) —
    * hash-range assignment at ~80/10/10 (hex cuts cc000000 / e6000000).
    * The draw is in the output so the gate pins each row's assignment.
    */
  def hashSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id")
    ev.select(
        col("event_id"),
        col("user_id"),
        Sampling.hashUniformHex("split", col("event_id")).as("u8"),
        Sampling
          .splitLabel(
            "split",
            col("event_id"),
            Seq("train" -> "cc000000", "val" -> "e6000000"),
            default = "test")
          .as("split"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** s17: TEMPORAL-ENTITY split — per user, the chronologically FIRST
    * 80% of events train, the rest test (rn·5 ≤ n·4 ⇔ rn ≤ 0.8n in
    * exact integers). This is the leakage-safe split a sequence-model
    * pipeline needs and neither s5 (hash — future events can land in
    * train) nor s9 (whole entities held out — no per-entity history in
    * test) provides: every user contributes history to train and ONLY
    * strictly-later events to test. Two user-keyed windows over one
    * exchange (rank + per-user count share the partitioning), ties
    * broken by event_id — fully deterministic, distributed by user.
    */
  def temporalEntitySplit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    prepared(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ord_us"))
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("n_user", count(lit(1)).over(wAll))
      .withColumn(
        "split",
        when(col("rn") * 5L <= col("n_user") * 4L, lit("train")).otherwise(lit("test")))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** k1: KMV distinct-users-per-day sketch ([[Sketches.kmvDistinct]],
    * k=64) next to the exact count. Days at the gate scale hold >64
    * distinct users, so the ESTIMATOR branch (not just the exact-m
    * fallback) is oracle-gated; sf0.001 days hold <64, gating the
    * fallback. The sketch is deterministic md5+integer math, so the gate
    * pins it bit-for-bit — no tolerance band.
    */
  private val KmvK = 64

  /** k1's DuckDB derivation — shared verbatim by k8 (the native-aggregate
    * form must be bit-equal to the relational one).
    */
  private lazy val KmvOracleSql: String =
    s"""WITH prep AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
       |h AS (
       |  SELECT DISTINCT day,
       |    CAST(('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
       |  FROM prep),
       |rk AS (
       |  SELECT day, hv, row_number() OVER (PARTITION BY day ORDER BY hv) AS r FROM h),
       |top AS (
       |  SELECT day, count(*) AS m, max(hv) AS hk FROM rk WHERE r <= $KmvK GROUP BY 1),
       |ex AS (SELECT day, count(DISTINCT user_id) AS exact_nd FROM prep GROUP BY 1)
       |SELECT t.day, t.m, t.hk,
       |  CASE WHEN t.m < $KmvK THEN t.m
       |       ELSE (${(KmvK - 1).toLong * 4294967296L} // t.hk) END AS est_nd,
       |  e.exact_nd
       |FROM top t JOIN ex e ON t.day = e.day
       |ORDER BY t.day""".stripMargin

  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables
      .events(spark, sfDir)
      .select(expr("ord_us div 86400000000").as("day"), col("user_id"))
    val sketch = Sketches.kmvDistinct(ev, "day", col("user_id"), KmvK, "kmv")
    val exact = ev.groupBy(col("day")).agg(countDistinct(col("user_id")).as("exact_nd"))
    sketch
      .join(exact, Seq("day"))
      .select("day", "m", "hk", "est_nd", "exact_nd")
      .transform(orderedOutput(_, col("day")))
  }

  /** k8: k1's KMV distinct sketch as a NATIVE Catalyst aggregate
    * ([[graft.functions.KmvDistinctAgg]], a TypedImperativeAggregate) —
    * the 100 TB form of the sketch: ONE hash-aggregate pass with
    * map-side partials and O(k) state per group, where k1's
    * window+rank derivation shuffles every (group, entity) hash and
    * sorts per group. Same md5 draw, same (k−1)·2³²/hk estimator, same
    * output columns — so the gate reuses k1's ORACLE verbatim, pinning
    * that the imperative aggregate is bit-equal to the relational
    * derivation under any partitioning (the k smallest DISTINCT values
    * are order-independent — that is what makes an imperative aggregate
    * oracle-able at all).
    */
  def kmvAggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .events(spark, sfDir)
      .select(expr("ord_us div 86400000000").as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(
        graft.functions.KmvDistinctAgg.kmvDistinct(col("user_id"), KmvK, "kmv").as("kmv"),
        countDistinct(col("user_id")).as("exact_nd"))
      .select(
        col("day"),
        col("kmv.m").as("m"),
        col("kmv.hk").as("hk"),
        col("kmv.est_nd").as("est_nd"),
        col("exact_nd"))
      .transform(orderedOutput(_, col("day")))

  /** k2: Count-Min heavy-hitter spend totals ([[Sketches.countMinSketch]],
    * depth 4 x width 256) — the frequency twin of k1's distinct sketch:
    * per-user total spend estimated from a FIXED-SIZE counter table
    * instead of a per-key aggregation. At 100 TB the sketch's shuffle is
    * bounded by partitions * depth * width (map-side partials collapse to
    * the counter table), and the finished 1024-row sketch broadcasts to
    * the probe side. Estimates are never below the exact total (min over
    * hash rows); the gate pins sketch AND estimate bit-for-bit next to
    * the exact totals, including the overestimate each key carries.
    */
  private val CmDepth = 4
  private val CmWidth = 256

  def countMinSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    val sketch = Sketches.countMinSketch(ev, col("user_id"), col("cents"), CmDepth, CmWidth, "cm")
    val est = Sketches.countMinEstimate(
      sketch, ev.select("user_id").distinct(), col("user_id"), "user_id", CmDepth, CmWidth, "cm")
    val exact = ev.groupBy(col("user_id")).agg(sum(col("cents")).as("exact_cents"))
    est
      .join(exact, Seq("user_id"))
      .select(
        col("user_id"),
        col("exact_cents"),
        col("cm_est"),
        (col("cm_est") - col("exact_cents")).as("over_cents"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** s8: deterministic fixed-size per-group sample — each event_type keeps
    * its k=20 smallest-hash events (order by (md5 draw, event_id)): a
    * uniform without-replacement QUOTA sample per stratum, which the
    * rate-based samplers (s4/s7) cannot express, reproducible across
    * engines/partitionings like every hash draw here. Runs through
    * [[Salting.saltedTopK]], so a hot stratum's rank never sorts in one
    * task — the sample is exact (every global winner ranks <= k in its
    * bucket) at bucket-bounded cost.
    */
  private val GroupSampleK = 20

  def groupSample(spark: SparkSession, sfDir: String): DataFrame =
    Salting
      .saltedTopK(
        Tables
          .events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .withColumn("u8", Sampling.hashUniformHex("gsmp", col("event_id"))),
        key = Seq("event_type"),
        order = Seq(col("u8"), col("event_id")),
        k = GroupSampleK,
        saltSource = col("event_id"),
        buckets = SaltBuckets)
      .select("event_type", "rnk", "event_id", "user_id", "u8")
      .transform(orderedOutput(_, col("event_type"), col("rnk")))

  /** w8: tumbling event-time rollup ([[graft.streaming.WindowedAgg]]) —
    * hourly per-event_type counts and exact-integer spend, the SAME
    * function that runs the streaming plane (withWatermark is a batch
    * no-op): gating the batch output pins the window math the streaming
    * parity spec then holds the stream to. The oracle reproduces the
    * epoch-aligned window start with pure integer arithmetic
    * (ord_us - ord_us % windowUs) — no timestamp types cross the gate.
    */
  private val TumbleSecs = 3600L

  def tumblingRollup(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.WindowedAgg
      .tumblingRollup(prepared(spark, sfDir), "ord_us", "event_type", "cents", TumbleSecs, 0L)
      .transform(orderedOutput(_, col("win_start_us"), col("event_type")))

  /** w9: the NATIVE session_window sessionizer
    * ([[graft.streaming.WindowedAgg.sessionRollup]]) gated against the
    * SAME DuckDB gap-session derivation that gates w7 — the j3-vs-ASOF
    * pattern: two independent implementations (lag/cumsum window
    * functions vs Spark's first-class session grouping) held to one
    * oracle. This is the form that also runs streaming with
    * watermark-bounded state, so its batch gate pins what the stream
    * emits.
    */
  def sessionWindowRollup(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.WindowedAgg
      .sessionRollup(
        prepared(spark, sfDir).select("user_id", "ord_us", "cents"),
        "ord_us",
        "user_id",
        "cents",
        gapSecs = 3600L,
        watermarkSecs = 0L)
      .transform(orderedOutput(_, col("user_id"), col("start_us")))

  /** w10: sliding (hopping) rollup — 1-hour windows every 30 minutes per
    * event_type, each event in exactly two windows. The oracle reproduces
    * epoch-aligned membership by exploding the two integer offsets; all
    * still one hash aggregation in Spark (the window fan-out is a
    * row-local generator, not a shuffle multiplier beyond the x2 rows).
    */
  private val SlideSecs = 1800L

  def slidingRollup(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.WindowedAgg
      .slidingRollup(
        prepared(spark, sfDir), "ord_us", "event_type", "cents", TumbleSecs, SlideSecs, 0L)
      .transform(orderedOutput(_, col("win_start_us"), col("event_type")))

  /** q4: pivot — per-user spend wide-formatted over the event_type
    * domain (the feature-matrix export shape: one row per entity, one
    * column per category). The value list is EXPLICIT, which matters at
    * scale: `pivot(col)` without values runs a driver-side distinct job
    * over the corpus first, while `pivot(col, values)` is a single hash
    * aggregation with a static schema. Missing combinations zero-fill;
    * integer cents keep the gate bit-exact (the oracle is the classic
    * SUM(CASE...) spelling).
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def pivotWide(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(sum(col("cents")))
      .na.fill(0L, EventTypes)

  def pivotSpend(spark: SparkSession, sfDir: String): DataFrame =
    pivotWide(spark, sfDir).transform(orderedOutput(_, col("user_id")))

  /** q5: unpivot/melt — q4's wide matrix back to long (user_id,
    * event_type, spend_cents) via the native `unpivot`, the inverse
    * export shape (feature matrix -> tidy rows). Row-local: unpivot is a
    * generator expression, no shuffle beyond q4's aggregation. The oracle
    * spells it as the UNION ALL of the five category columns.
    */
  def unpivotSpend(spark: SparkSession, sfDir: String): DataFrame =
    pivotWide(spark, sfDir)
      .unpivot(
        Array(col("user_id")),
        EventTypes.map(col).toArray,
        "event_type",
        "spend_cents")
      .transform(orderedOutput(_, col("user_id"), col("event_type")))

  /** q6: ROLLUP — the multi-level aggregate (per (event_type, day), per
    * event_type, grand total) in ONE pass: Spark expands the grouping
    * sets map-side, so the three levels cost one shuffle, not three
    * queries. Rolled-up positions are coalesced to sentinels ('ALL'/-1)
    * in BOTH engines so no null crosses the gate boundary; DuckDB's
    * native GROUP BY ROLLUP is the oracle.
    */
  def rollupSpend(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .withColumn("day", expr("ord_us div 86400000000"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit(-1L)).as("day"),
        col("n_events"),
        col("sum_cents"))
      .transform(orderedOutput(_, col("event_type"), col("day")))

  /** a2: per-user spend quantiles — exact interpolated percentiles
    * (Spark `percentile`, DuckDB `quantile_cont`: both define the
    * p-quantile at rank p*(n-1) with linear interpolation) over exact
    * integer cents, so the doubles agree bit-for-bit. The oracle-exact
    * alternative to approx_percentile when per-group cardinalities are
    * sortable; the sketch-based path stays k1's territory.
    */
  def spendQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        percentile(col("cents"), lit(0.5)).as("p50"),
        percentile(col("cents"), lit(0.9)).as("p90"),
        percentile(col("cents"), lit(0.99)).as("p99"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** a3: approximate per-user quantiles via a deterministic 25% hash
    * sample — a2's 100 TB companion: the exact per-group percentile sort
    * runs over the md5-Bernoulli sample ([[Sampling.bernoulli]]), cutting
    * sort/memory cost by the sample rate, while the estimate stays
    * REPRODUCIBLE across engines, runs, and partitionings (an RNG sample
    * or an engine-specific sketch is neither) — which is why the oracle
    * can pin it bit-for-bit rather than within a tolerance band.
    */
  def sampledQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Sampling
      .bernoulli(prepared(spark, sfDir), "event_id", "aq", "40000000")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sampled"),
        percentile(col("cents"), lit(0.5)).as("p50"),
        percentile(col("cents"), lit(0.9)).as("p90"))
      .transform(orderedOutput(_, col("user_id")))

  /** g1: salted two-phase rollup ([[Salting.saltedSumCount]]) over the
    * 5-value `event_type` key — the skewed-aggregation shape (every key
    * is hot: ~n/5 rows each at any corpus size). The salt splits each hot
    * key across 32 deterministic buckets in phase one; phase two reduces
    * <= 5 * 32 partial rows. Results equal the direct groupBy — integer-
    * cents sums are order-independent — which is exactly what the plain
    * GROUP BY oracle pins.
    */
  private val SaltBuckets = 32

  def saltedRollup(spark: SparkSession, sfDir: String): DataFrame =
    Salting
      .saltedSumCount(
        prepared(spark, sfDir),
        key = Seq("event_type"),
        valueCol = "cents",
        saltSource = col("event_id"),
        buckets = SaltBuckets)
      .withColumn("avg_amount", col("sum_cents") / col("cnt") / lit(100.0))
      .transform(orderedOutput(_, col("event_type")))

  /** g2: skew-safe exact top-k per key ([[Salting.saltedTopK]]) — top-5
    * spend events per event_type. The UNSALTED twin is a single window
    * rank per key: a hot key's entire row set sorts in ONE task (the
    * genuinely skew-bound window case that partial aggregation cannot
    * rescue); the salted two-phase plan bounds every task at its bucket.
    * The oracle is the plain one-window spelling — the gate pins the
    * exactness argument (every global winner ranks <= k in its bucket).
    */
  private val TopSpendK = 5

  def saltedTopSpend(spark: SparkSession, sfDir: String): DataFrame =
    Salting
      .saltedTopK(
        prepared(spark, sfDir).select("event_id", "user_id", "event_type", "cents"),
        key = Seq("event_type"),
        order = Seq(col("cents").desc, col("event_id")),
        k = TopSpendK,
        saltSource = col("event_id"),
        buckets = SaltBuckets)
      .select("event_type", "rnk", "event_id", "user_id", "cents")
      .transform(orderedOutput(_, col("event_type"), col("rnk")))

  /** q7: CUBE — every grouping-set combination of (event_type, user
    * stratum) in ONE pass (the q6 pattern widened: 4 grouping sets, one
    * shuffle, map-side set expansion). The feature-audit export shape:
    * per-cell, per-row-margin, per-column-margin, and grand totals from
    * one aggregation. Sentinels replace rolled-up nulls in both engines.
    */
  def cubeSpend(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .withColumn("stratum", pmod(col("user_id"), lit(4L)))
      .cube(col("event_type"), col("stratum"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("stratum"), lit(-1L)).as("stratum"),
        col("n_events"),
        col("sum_cents"))
      .transform(orderedOutput(_, col("event_type"), col("stratum")))

  /** w11: lag/lead feature generation — the sequence-model feature shape
    * (previous/next value, delta, 3-row rolling sum, per-entity step
    * index) in ONE window pass: every layer shares the (user_id) x
    * (ord_us, event_id) partition sort, so the whole feature block costs
    * one exchange + one sort. Absent neighbors sentinel to -1; integer
    * cents keep every column engine-exact. The event_id tie-break pins
    * same-microsecond orderings in both engines.
    */
  def lagFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val w3 = w.rowsBetween(-2, Window.currentRow)
    prepared(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ord_us"), col("cents"))
      .withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("prev_cents", coalesce(lag(col("cents"), 1).over(w), lit(-1L)))
      .withColumn("next_cents", coalesce(lead(col("cents"), 1).over(w), lit(-1L)))
      .withColumn(
        "delta_cents",
        when(col("prev_cents") === -1L, lit(0L)).otherwise(col("cents") - col("prev_cents")))
      .withColumn("roll3_cents", sum(col("cents")).over(w3))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** a4: equi-width histogram — the distribution-profiling operator
    * (feature-drift dashboards, outlier triage): fixed 2800-cent buckets
    * over the declared [0, 560.00] value domain, each with count, exact
    * integer mass, and observed min/max. Row-local bucketing + one hash
    * aggregation; a FIXED width (vs a max()-derived one) keeps the
    * operator one-pass and the bucket ids stable across corpora.
    */
  private val HistWidthCents = 2800L
  private val HistBuckets = 20L

  def valueHistogram(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .withColumn(
        "bucket",
        least(lit(HistBuckets - 1L), expr(s"cents div $HistWidthCents")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .withColumn("lo_cents", col("bucket") * HistWidthCents)
      .select("bucket", "lo_cents", "n", "sum_cents", "min_cents", "max_cents")
      .transform(orderedOutput(_, col("bucket")))

  /** w12: gap-fill resample — the time-series regularization step (a
    * model wants one row per entity per day, zeros where nothing
    * happened): per-user daily rollup, then each user's min..max day span
    * exploded into a dense integer calendar and left-joined back,
    * zero-filling the gaps. The explode is bounded by the span (30 days
    * here) — never a cross join against a global calendar, so sparse
    * entities stay cheap at any corpus size.
    */
  def gapFillDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = prepared(spark, sfDir)
      .withColumn("day", expr("ord_us div 86400000000"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
    val calendar = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    calendar
      .join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"),
        col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"))
      .transform(orderedOutput(_, col("user_id"), col("day")))
  }

  /** s9: leakage-safe entity split — train/test assignment hashed on the
    * ENTITY (user), not the row, so every event of a user lands in one
    * split (row-hashed splits leak a user's history across the boundary —
    * the classic training-data bug). Same md5 draw family as s5, 75/25 at
    * the declared hex threshold; row-local, reproducible everywhere.
    */
  def entitySplit(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .select(col("event_id"), col("user_id"))
      .withColumn("u8", Sampling.hashUniformHex("esplit", col("user_id")))
      .withColumn(
        "split",
        when(col("u8") < "c0000000", lit("train")).otherwise(lit("test")))
      .transform(orderedOutput(_, col("event_id")))

  /** s16: entity-safe K-FOLD cross-validation assignment — the CV
    * counterpart of s9: folds are hashed on the USER (first hex digit of
    * md5, mod 4 — uniform because 4 divides 16), so every event of a
    * user lands in exactly one fold and no fold's validation set shares
    * an entity with its training set (row-hashed folds leak a user's
    * history across the boundary, the same classic bug s9 guards).
    * Scale shape: ONE aggregation pass over the corpus (groupBy fold);
    * each fold's TRAIN aggregates are derived by subtraction from the
    * total over the 4-row per-fold frame — never K scans of the data —
    * which is only correct BECAUSE the entity partition is disjoint
    * (user sets never straddle folds), i.e. the arithmetic itself
    * re-proves the leakage-safety the operator promises.
    */
  private val KFolds = 4L

  def kfoldSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val perFold = prepared(spark, sfDir)
      .withColumn(
        "fold",
        pmod(
          conv(substring(Sampling.hashUniformHex("kfold", col("user_id")), 1, 1), 16, 10)
            .cast("long"),
          lit(KFolds)))
      .groupBy(col("fold"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
    val total = broadcast(perFold.agg(
      sum(col("n_events")).as("t_events"),
      sum(col("n_users")).as("t_users"),
      sum(col("sum_cents")).as("t_cents")))
    val valRows = perFold.select(
      col("fold"), lit("val").as("role"),
      col("n_events"), col("n_users"), col("sum_cents"))
    val trainRows = perFold
      .crossJoin(total)
      .select(
        col("fold"), lit("train").as("role"),
        (col("t_events") - col("n_events")).as("n_events"),
        (col("t_users") - col("n_users")).as("n_users"),
        (col("t_cents") - col("sum_cents")).as("sum_cents"))
    valRows
      .unionByName(trainRows)
      .transform(orderedOutput(_, col("fold"), col("role")))
  }

  /** j5: anti-join blocklist filtering — the "remove every event of a
    * banned entity" operator as a real LEFT ANTI join against a DERIVED
    * blocklist frame (every 13th user), not a rewritten predicate: the
    * production blocklist arrives as a table, and the anti-join is the
    * shape that scales (small side broadcasts; the corpus never
    * shuffles). The oracle spells the same contract as NOT EXISTS.
    */
  private val BlockMod = 13L

  def antiJoinBlocklist(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    val blocklist = ev
      .filter(pmod(col("user_id"), lit(BlockMod)) === 0L)
      .select(col("user_id"))
      .distinct()
    ev.select(col("event_id"), col("user_id"), col("cents"))
      .join(broadcast(blocklist), Seq("user_id"), "left_anti")
      .transform(orderedOutput(_, col("event_id")))
  }

  /** q8: set operations — the cohort algebra (INTERSECT / EXCEPT) over
    * two activity windows: users active in BOTH the first and last week
    * of the month, only the first, or only the last. Spark's native
    * intersect/except operators (distinct-based, one shuffle each over
    * the already-aggregated user sets); the oracle is the literal
    * INTERSECT/EXCEPT spelling.
    */
  private val WeekUs = 7L * 86400L * 1000000L

  def userSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    val bounds = ev.agg(min(col("ord_us")).as("lo"), max(col("ord_us")).as("hi"))
    val withBounds = ev.crossJoin(broadcast(bounds))
    val firstWeek = withBounds
      .filter(col("ord_us") < col("lo") + WeekUs)
      .select(col("user_id"))
      .distinct()
    val lastWeek = withBounds
      .filter(col("ord_us") >= col("hi") - WeekUs)
      .select(col("user_id"))
      .distinct()
    firstWeek.intersect(lastWeek).withColumn("cohort", lit("both"))
      .union(firstWeek.except(lastWeek).withColumn("cohort", lit("first_only")))
      .union(lastWeek.except(firstWeek).withColumn("cohort", lit("last_only")))
      .transform(orderedOutput(_, col("user_id"), col("cohort")))
  }

  /** a5: correlation components — Pearson corr(cents, hour-of-day) per
    * event_type from the five EXACT integer power sums (n, Σx, Σy, Σxy,
    * Σx², Σy²), the numerically-stable-across-engines route: the sums
    * gate as exact decimals (decimal(38), matching DuckDB's HUGEINT
    * widening — Long would overflow n·Σx² past sf0.1), and the one
    * double division happens identically on both sides. An
    * engine-native corr() would compute a streaming variance in
    * engine-specific order — not gateable; this is.
    */
  def spendHourCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    prepared(spark, sfDir)
      .select(
        col("event_type"),
        col("cents").as("x"),
        expr("(ord_us div 3600000000) % 24").as("y"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn(
        "corr",
        (col("n").cast(d38) * col("sxy").cast(d38) - col("sx").cast(d38) * col("sy").cast(d38))
          .cast("double") /
          (sqrt((col("n").cast(d38) * col("sxx").cast(d38) - col("sx").cast(d38) * col("sx").cast(d38)).cast("double")) *
            sqrt((col("n").cast(d38) * col("syy").cast(d38) - col("sy").cast(d38) * col("sy").cast(d38)).cast("double"))))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** w30: contiguous event-pattern detection — the MATCH_RECOGNIZE / CEP
    * shape (SQL:2016 row-pattern recognition; Flink's CEP operator is
    * the streaming twin): every occurrence of view → click → purchase as
    * three CONSECUTIVE events of one user, each hop at most
    * [[PatternGapUs]] apart. One user-partitioned window pass (two
    * lead() columns off the same sort — Spark fuses them into a single
    * Window operator), then a row-local predicate: no self-joins, no
    * per-pattern-step shuffles, and the state per partition is the
    * 3-row lookahead — the plan scales with |events|, not
    * |events|·|pattern|. Output: one row per match with its span;
    * overlapping matches all emit (the ALL ROWS PER MATCH discipline),
    * which keeps the operator a pure filter over the windowed frame.
    */
  private val PatternGapUs = 86400000000L // 24 hours per hop

  def eventPattern(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ord_us"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("u1", lead(col("ord_us"), 1).over(w))
      .withColumn("u2", lead(col("ord_us"), 2).over(w))
      .withColumn("end_id", lead(col("event_id"), 2).over(w))
      .filter(
        col("event_type") === "view" && col("t1") === "click" && col("t2") === "purchase" &&
          col("u1") - col("ord_us") <= PatternGapUs && col("u2") - col("u1") <= PatternGapUs)
      .select(
        col("user_id"),
        col("event_id").as("start_id"),
        col("end_id"),
        col("ord_us").as("start_us"),
        col("u2").as("end_us"),
        (col("u2") - col("ord_us")).as("span_us"))
      .transform(orderedOutput(_, col("user_id"), col("start_id")))
  }

  /** a32: one-way ANOVA cells — spend (cents) by event_type, the k-arm
    * generalization of a15's two-arm Welch test and the screening stat
    * behind "does this categorical feature move the target at all".
    * One hash aggregation produces each group's exact (n, Σy, Σy²); the
    * grand totals ride a window over the ≤|types| group frame (a10's
    * convention — never a second corpus pass). Each group's
    * between-group contribution n_g·(ȳ_g − ȳ)² and within-group sum of
    * squares Σy² − (Σy)²/n_g are per-row doubles derived from exact
    * decimals by the identical formula in both engines; the F STATISTIC
    * (a float sum over groups) is deliberately left to the caller,
    * because summing doubles is order-dependent and the group frame is
    * tiny (the a10 chi-square discipline). Grand totals come from a
    * 1-row aggregate broadcast-crossed onto the group frame (the q30
    * shape) rather than an unpartitioned window, keeping the sweep's
    * whitelist closed.
    */
  def anovaCells(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // the sums aggregate in decimal(38,0), not 64-bit longs: DuckDB's
    // sum(BIGINT) promotes to exact HUGEINT, and a LongType Σcents² wraps
    // silently (non-ANSI) once n·cents² crosses 2^63 — casting AFTER the
    // aggregation (the r11 form) left the aggregation itself 64-bit
    val g = prepared(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_g"),
        sum(col("cents").cast(d38)).as("s_g"),
        sum(col("cents").cast(d38) * col("cents").cast(d38)).as("q_g"))
    val totals = broadcast(g.agg(
      sum(col("n_g")).cast("long").as("n"),
      sum(col("s_g")).cast(d38).as("s")))
    g.crossJoin(totals)
      .withColumn(
        "ssb_g",
        (col("s_g").cast(d38).cast("double") / col("n_g").cast("double") -
          col("s").cast("double") / col("n").cast("double")) *
          (col("s_g").cast(d38).cast("double") / col("n_g").cast("double") -
            col("s").cast("double") / col("n").cast("double")) * col("n_g").cast("double"))
      .withColumn(
        "ssw_g",
        (col("q_g").cast(d38) * col("n_g").cast(d38) - col("s_g").cast(d38) * col("s_g").cast(d38))
          .cast("double") / col("n_g").cast("double"))
      // exact 128-bit intermediates export as digit strings (a8's
      // convention — the one representation both engines print
      // identically at HUGEINT width)
      .select(col("event_type"), col("n_g"), col("s_g").cast(d38).cast("string").as("s_g"),
        col("q_g").cast(d38).cast("string").as("q_g"), col("n"), col("ssb_g"), col("ssw_g"))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** a37: Kaplan–Meier risk-table cells (Kaplan & Meier 1958) — the
    * survival-analysis staple over time-to-first-purchase: per user, the
    * duration in days from their first event to their first 'purchase',
    * RIGHT-CENSORED at the corpus horizon when no purchase ever lands
    * (the corpus max event time is the deterministic "now", the j1
    * convention). The gate exports the full risk table — per distinct
    * duration day: users still at risk, events, censorings — all exact
    * integers (the a32 cells discipline: the product-limit curve
    * S(t) = Π (1 − d_i/n_i) is one deterministic fold over the pinned
    * cells, so no order-dependent float product crosses the gate). The
    * at-risk count is the N-minus-exclusive-prefix over the distinct-day
    * frame via the [[graft.operators.Ranks]] two-pass scan — no
    * unpartitioned window over data anywhere.
    */
  def kaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    val e = prepared(spark, sfDir).select(col("user_id"), col("event_type"), col("ord_us"))
    val u = e
      .groupBy(col("user_id"))
      .agg(
        min(col("ord_us")).as("t0"),
        min(when(col("event_type") === "purchase", col("ord_us"))).as("tp"))
    val mx = broadcast(e.agg(max(col("ord_us")).as("tmax")))
    val durations = u
      .crossJoin(mx)
      .select(
        when(col("tp").isNotNull, expr(s"(tp - t0) div $DayUs"))
          .otherwise(expr(s"(tmax - t0) div $DayUs")).as("day"),
        when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
    val riskRows = durations
      .groupBy(col("day"))
      .agg(
        sum(col("ev")).as("d_events"),
        sum(lit(1L) - col("ev")).as("n_censored"),
        count(lit(1)).as("total_d"))
    val nTotal = broadcast(u.agg(count(lit(1)).as("n_total")))
    Ranks
      .cumulativeOverDistinct(riskRows, "day", Seq("total_d"))
      .crossJoin(nTotal)
      .select(
        col("day"),
        (col("n_total") - col("cum_total_d") + col("total_d")).as("n_at_risk"),
        col("d_events"),
        col("n_censored"))
      .transform(orderedOutput(_, col("day")))
  }

  /** s18: Neyman-allocation stratified sampling (Neyman 1934) — the
    * variance-optimal refinement of s4's equal-rate strata: a stratum's
    * sample budget is proportional to N_h·S_h (its size times its spend
    * standard deviation), so volatile strata get the observations that
    * shrink the estimator most. Exactness discipline: the variance cells
    * aggregate in decimal(38) (a32's rule), the per-stratum weight
    * N_h·S_h — the one genuinely irrational quantity — is QUANTIZED to
    * integer micros (round(w·1e6), the embedding-plane trick applied to
    * allocation weights), so the total weight is an exact integer sum
    * and every allocation is one exact integral division
    * (budget·w_fx div W). The draw is the repo's md5-rank: the n_h
    * smallest draws per stratum, a partitioned rank window. The gate
    * exports the allocation table AND the drawn sample's exact
    * aggregates, so a mis-allocated budget or a mis-drawn row diverges
    * the hash. (Weight magnitudes: N_h·S_h·1e6 ≲ 1e16 at sf1, inside
    * BIGINT with the 200-row budget multiplier.)
    */
  def neymanSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val ev = prepared(spark, sfDir).select(col("event_type"), col("event_id"), col("cents"))
    val cells = ev
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_h"),
        sum(col("cents").cast(d38)).as("s_h"),
        sum(col("cents").cast(d38) * col("cents").cast(d38)).as("q_h"))
    val weighted = cells
      .withColumn(
        "var_h",
        (col("q_h").cast(d38) * col("n_h").cast(d38) - col("s_h").cast(d38) * col("s_h").cast(d38))
          .cast("double") /
          (col("n_h").cast("double") * (col("n_h") - lit(1L)).cast("double")))
      .withColumn(
        "w_fx",
        round(col("n_h").cast("double") * sqrt(col("var_h")) * lit(1000000.0)).cast("long"))
    val totalW = broadcast(weighted.agg(sum(col("w_fx")).as("w_total")))
    val alloc = weighted
      .crossJoin(totalW)
      .withColumn("n_alloc", expr(s"($NeymanBudget * w_fx) div w_total"))
      .select(col("event_type"), col("n_h"), col("w_fx"), col("n_alloc"))
    // the per-stratum draw is a bounded-heap bottom-k on (draw, id) — a
    // rank window partitioned by the handful of strata would sort a
    // corpus-sized run per stratum (the v19 pathology); the aggregate
    // reduces every partition to <= budget pairs map-side. The 32-bit
    // draw casts to Double exactly, and its numeric order IS the hex
    // string order the oracle sorts by.
    val topDraws = ev
      .withColumn(
        "draw",
        conv(Sampling.hashUniformHex("neyman", col("event_id")), 16, 10).cast("long"))
      .groupBy(col("event_type"))
      .agg(graft.functions.BottomKAgg
        .bottomK(col("draw").cast("double"), col("event_id"), NeymanBudget.toInt).as("tk"))
      .select(col("event_type"), explode(col("tk")).as("e"))
      .select(col("event_type"), col("e.id").as("event_id"), col("e.rnk").as("draw_rnk"))
    val picked = topDraws
      .join(alloc.select(col("event_type"), col("n_alloc")), "event_type")
      .filter(col("draw_rnk") <= col("n_alloc"))
      .select(col("event_id"))
    val drawn = ev
      .join(broadcast(picked), "event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_drawn"), sum(col("cents")).as("sample_cents"))
    alloc
      .join(drawn, Seq("event_type"), "left")
      .select(
        col("event_type"), col("n_h"), col("w_fx"), col("n_alloc"),
        coalesce(col("n_drawn"), lit(0L)).as("n_drawn"),
        coalesce(col("sample_cents"), lit(0L)).as("sample_cents"))
      .transform(orderedOutput(_, col("event_type")))
  }

  private val NeymanBudget = 200L

  /** a36: Kruskal–Wallis rank cells (Kruskal & Wallis 1952) — the
    * RANK-based k-group location test next to a32's parametric ANOVA
    * (a21's Mann–Whitney generalized past two groups): per event type,
    * the exact doubled rank sum R2_g = Σ 2·avgrank over the
    * [[graft.operators.Ranks.doubledRanks]] distinct-value scan (the
    * a20/a21 tie discipline — no unpartitioned window over data
    * anywhere), plus the tie-correction cube sum. The gate exports the
    * a32 shape: exact integer cells per group (n_g, R2_g, n, Σ(t³−t))
    * and the per-row double terms h_term_g = 3·R2_g²/(n_g·N·(N+1)) and
    * the tie factor — H = Σ h_term_g − 3(N+1), corrected H/tie_factor,
    * both one deterministic step from the pinned cells (each row's
    * double is an independent shared-formula computation; no
    * order-dependent float summation crosses the gate).
    */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(col("event_type"), col("cents"))
    val byVal = ev.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val ranked = Ranks.doubledRanks(byVal, "cents", "cnt").select(col("cents"), col("r2"))
    val perGroup = ev
      .groupBy(col("cents"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .join(ranked, "cents")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_g"), sum(col("c") * col("r2")).as("r2_g"))
    val totals = broadcast(byVal.agg(
      sum(col("cnt")).as("n"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_cube")))
    perGroup
      .crossJoin(totals)
      .withColumn(
        "h_term_g",
        lit(3.0) * col("r2_g").cast("double") * col("r2_g").cast("double") /
          (col("n_g").cast("double") * col("n").cast("double") *
            (col("n") + lit(1L)).cast("double")))
      .withColumn(
        "tie_factor",
        lit(1.0) - col("tie_cube").cast("double") /
          (col("n").cast("double") * col("n").cast("double") * col("n").cast("double") -
            col("n").cast("double")))
      .select("event_type", "n_g", "r2_g", "n", "tie_cube", "h_term_g", "tie_factor")
      .transform(orderedOutput(_, col("event_type")))
  }

  /** a33: two-feature linear regression via the normal equations —
    * spend ~ hour-of-day + day-of-week per event_type, the distributed
    * "fit a small OLS model in one pass" shape (sufficient statistics →
    * closed-form solve; the same pattern scales to any p where the p×p
    * Gramian fits the driver — here p=2 so even the solve stays in the
    * plan). One hash aggregation yields the exact integer moment sums;
    * the centered second moments Sxx = n·Σx² − (Σx)² etc. are exact
    * decimal(38) values (DuckDB computes them in HUGEINT — bit-equal),
    * and Cramer's rule gives each coefficient as ONE double division of
    * exact decimals: β_x = (Sxy·Szz − Szy·Sxz) / (Sxx·Szz − Sxz²). The
    * magnitudes stay far inside decimal(38) at any tested SF (bounded by
    * n²·max(x²)·max(z²)·max(y) ≈ 1e26 at sf0.1); a singular design
    * (det = 0) yields NULL in both engines.
    */
  def multiRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def c(name: String) = col(name).cast(d38)
    prepared(spark, sfDir)
      .select(
        col("event_type"),
        expr("(ord_us div 3600000000) % 24").as("x"),
        expr("(ord_us div 86400000000) % 7").as("z"),
        col("cents").as("y"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("z")).as("sz"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx0"),
        sum(col("z") * col("z")).as("szz0"),
        sum(col("x") * col("z")).as("sxz0"),
        sum(col("x") * col("y")).as("sxy0"),
        sum(col("z") * col("y")).as("szy0"))
      .withColumn("cxx", c("n") * c("sxx0") - c("sx") * c("sx"))
      .withColumn("czz", c("n") * c("szz0") - c("sz") * c("sz"))
      .withColumn("cxz", c("n") * c("sxz0") - c("sx") * c("sz"))
      .withColumn("cxy", c("n") * c("sxy0") - c("sx") * c("sy"))
      .withColumn("czy", c("n") * c("szy0") - c("sz") * c("sy"))
      .withColumn("det", col("cxx") * col("czz") - col("cxz") * col("cxz"))
      .withColumn(
        "beta_x",
        when(col("det") =!= 0,
          (col("cxy") * col("czz") - col("czy") * col("cxz")).cast("double") / col("det").cast("double")))
      .withColumn(
        "beta_z",
        when(col("det") =!= 0,
          (col("czy") * col("cxx") - col("cxy") * col("cxz")).cast("double") / col("det").cast("double")))
      // exact 128-bit moments export as digit strings (a8's convention)
      .select(
        col("event_type"),
        col("n"),
        col("cxx").cast("string").as("cxx"),
        col("czz").cast("string").as("czz"),
        col("cxz").cast("string").as("cxz"),
        col("cxy").cast("string").as("cxy"),
        col("czy").cast("string").as("czy"),
        col("beta_x"),
        col("beta_z"))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** a34: Theil–Sen slope estimator — the robust (breakdown-point 29%)
    * alternative to a9's least-squares trend: the MEDIAN of all pairwise
    * slopes of the daily spend series. The pair frame is CALENDAR-
    * BOUNDED (≤ days² /2 rows at any corpus size — the a11/a30
    * argument), built by one broadcast inequality self-join of the daily
    * rollup; the median element is selected by the distributed top-k
    * pattern (orderBy + limit((n+1)/2) + 1-row max — TakeOrdered, never
    * a global single-partition window, so the sweep's whitelist stays
    * closed). The lower median with the (slope, d1, d2) total order is
    * fully deterministic; slope doubles divide identically in both
    * engines from exact integer (dy, dx). The pair count is collected
    * once on the driver — a calendar-bounded scalar, the kTruss/BPE
    * convention.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = prepared(spark, sfDir)
      .groupBy(expr("ord_us div 86400000000").as("day"))
      .agg(sum(col("cents")).as("s"))
    val pairs = daily
      .as("x")
      .join(broadcast(daily.as("y")), col("x.day") < col("y.day"))
      .select(
        col("x.day").as("d1"),
        col("y.day").as("d2"),
        (col("y.s") - col("x.s")).as("dy"),
        (col("y.day") - col("x.day")).as("dx"))
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val n = pairs.count()
    pairs
      .orderBy(col("slope"), col("d1"), col("d2"))
      .limit(((n + 1L) / 2L).toInt)
      .agg(max(struct(col("slope"), col("d1"), col("d2"), col("dy"), col("dx"))).as("med"))
      .select(
        lit(n).as("n_pairs"),
        col("med.slope").as("med_slope"),
        col("med.d1").as("d1"),
        col("med.d2").as("d2"),
        col("med.dy").as("dy"),
        col("med.dx").as("dx"))
      // degenerate corpus (< 2 distinct days => zero pairs): Spark's
      // global agg over an empty frame emits one all-null row, while the
      // oracle's `WHERE rn = (n+1)//2` emits zero rows — both must emit
      // zero (the filter is driver-static: n is already counted)
      .filter(col("n_pairs") > 0)
  }

  /** a35: Kendall tau-b rank correlation between two features of the
    * daily series (event count vs spend) — the tie-corrected rank
    * association every drift/feature-selection pass reaches for when
    * Spearman's (a20's) distributional assumptions are in doubt.
    * a31's Mann-Kendall is the TREND special case (one variable against
    * time, no tie correction on time); this is the bivariate form:
    * concordant/discordant/tied pair counts over the calendar-bounded
    * daily pair frame (≤ days²/2 rows at ANY corpus size — the a34
    * broadcast-pair shape, never a row-pair frame), all counts exact
    * longs, tau-b their one double expression written identically on
    * both engines (sqrt(n0−Tx)·sqrt(n0−Ty) — the factored form, not
    * sqrt of the product). The heavy pass is the daily rollup, one
    * map-side-combined aggregation over the corpus.
    */
  def kendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = prepared(spark, sfDir)
      .groupBy(expr("ord_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_ev"), sum(col("cents")).as("s"))
    val pairs = daily
      .as("x")
      .join(broadcast(daily.as("y")), col("x.day") < col("y.day"))
      .select(
        (col("y.n_ev") - col("x.n_ev")).as("dn"),
        (col("y.s") - col("x.s")).as("ds"))
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when((col("dn") > 0 && col("ds") > 0) || (col("dn") < 0 && col("ds") < 0), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("dn") > 0 && col("ds") < 0) || (col("dn") < 0 && col("ds") > 0), 1L)
          .otherwise(0L)).as("nd"),
        sum(when(col("dn") === 0 && col("ds") =!= 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("dn") =!= 0 && col("ds") === 0, 1L).otherwise(0L)).as("ty"),
        sum(when(col("dn") === 0 && col("ds") === 0, 1L).otherwise(0L)).as("tb"))
      .select(
        col("n_pairs"), col("nc"), col("nd"), col("tx"), col("ty"), col("tb"),
        ((col("nc") - col("nd")).cast("double") /
          (sqrt((col("n_pairs") - col("tx") - col("tb")).cast("double")) *
            sqrt((col("n_pairs") - col("ty") - col("tb")).cast("double")))).as("tau_b"))
      // degenerate corpus (< 2 distinct days): zero pairs — emit zero
      // rows on both engines (the a34 convention)
      .filter(col("n_pairs") > 0)
  }

  /** k9: distributed quantile estimation via the bottom-k payload
    * sample ([[graft.functions.KmvSampleAgg]]) — the mergeable-sample
    * answer to "quartiles per group at 100 TB": one hash-aggregate pass
    * keeps the k smallest DISTINCT (md5-draw, value) pairs per group
    * (O(k) state, map-side partials, no per-group sort anywhere) and
    * reads the quartiles off the sample at rank ceil(p·m). a2 is the
    * EXACT two-pass form, a3 the Bernoulli-sampled sort — this is the
    * aggregation-operator form whose state is bounded no matter how
    * skewed a group gets, and whose buffer is a merge lattice (property-
    * tested), so the identical aggregate runs as a streaming
    * complete-mode monitor with flat state (StreamingKmv pattern). The
    * oracle re-derives the same sample and ranks in SQL — estimates are
    * deterministic, so they gate bit-exactly, not within a band.
    */
  private val KmvSampleK = 64

  def kmvQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvSampleAgg
        .kmvSampleQuantiles(col("event_id"), col("cents"), KmvSampleK, "kq").as("s"))
      .select(
        col("event_type"),
        col("s.m").as("m"),
        col("s.q25").as("q25"),
        col("s.q50").as("q50"),
        col("s.q75").as("q75"))
      .transform(orderedOutput(_, col("event_type")))

  /** w13: exponential-decay (EWMA-style) recency features — per-user
    * spend where each day's contribution halves per day of age, the
    * classic recency weighting — computed EXACTLY: the half-life weight
    * 2^(29-age) is an integer shift (ages beyond 29 days truncate to 0,
    * which the 30-day corpus never reaches), so the "float EWMA" is an
    * integer dot product and the gate is bit-exact. Divide by 2^29
    * downstream when a float feature is wanted. One daily rollup + one
    * user rollup.
    */
  private val DecayShift = 29L

  def decaySpend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).withColumn("day", expr("ord_us div 86400000000"))
    val maxDay = broadcast(ev.agg(max(col("day")).as("max_day")))
    ev.groupBy(col("user_id"), col("day"))
      .agg(sum(col("cents")).as("day_cents"))
      .crossJoin(maxDay)
      .withColumn("age", col("max_day") - col("day"))
      .withColumn(
        "w",
        when(col("age") <= DecayShift, expr(s"shiftleft(cast(1 as bigint), cast($DecayShift - age as int))"))
          .otherwise(lit(0L)))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("day_cents") * col("w")).as("decayed_scaled"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** w14: rank feature block — per event_type, users ranked by total
    * spend with rank, percent_rank, and ntile(4) quartile from ONE
    * window pass over the pre-aggregated totals (never the raw events).
    * percent_rank is the exact rational (rank-1)/(n-1) in both engines;
    * ntile's uneven-bucket rule (first n mod 4 buckets one larger) is
    * the SQL standard in both. (total desc, user_id) pins tie order.
    */
  def spendRankFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("total_cents").desc, col("user_id"))
    prepared(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("cents")).as("total_cents"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .transform(orderedOutput(_, col("event_type"), col("rnk")))
  }

  /** q9: nested-type aggregation — per-user event-type profile via
    * collect_set: the array-column operator class (collect -> normalize
    * -> export). collect_set's arrival order is partition-dependent, so
    * the gate normalizes with array_sort before joining to a string —
    * the determinism discipline ANY exported array column needs; the
    * oracle builds the same profile from a DISTINCT subquery with
    * ordered string_agg.
    */
  def userTypeProfile(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("cents")).as("total_cents"),
        array_join(array_sort(collect_set(col("event_type"))), "|").as("types_str"))
      .transform(orderedOutput(_, col("user_id")))

  /** j6: stream-stream interval join, batch form
    * ([[graft.streaming.StreamStreamJoin]]) — every purchase attributed
    * to the same user's clicks in the preceding 10 minutes. The SAME
    * function runs the streaming plane (watermarks no-op in batch;
    * StreamingSpec holds the stream to this output bit-for-bit), so
    * gating the batch output pins what the stream emits. The plan is a
    * user-keyed equi-join with a residual time filter — per-key row
    * counts bound the pair space, the watermark bounds streaming state.
    */
  private val AttributionWindowUs = 600L * 1000000L

  def clickAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    graft.streaming.StreamStreamJoin
      .intervalJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id",
        "ord_us",
        "event_id",
        AttributionWindowUs,
        watermarkSecs = 600L)
      .withColumnRenamed("key", "user_id")
      .transform(orderedOutput(_, col("l_id"), col("r_id")))
  }

  /** j7: FULL OUTER join — the reconciliation shape (neither side owns
    * the key space): purchase days vs click days per calendar day, with
    * both-side zero-fill. The one outer-join flavor the other gates
    * don't cover; sentinel-filled so no null crosses the gate.
    */
  def fullOuterDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).withColumn("day", expr("ord_us div 86400000000"))
    def daily(tpe: String, n: String, s: String) = ev
      .filter(col("event_type") === tpe)
      .groupBy(col("day"))
      .agg(count(lit(1)).as(n), sum(col("cents")).as(s))
    daily("purchase", "n_purchases", "purchase_cents")
      .join(daily("click", "n_clicks", "click_cents"), Seq("day"), "full_outer")
      .select(
        col("day"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("purchase_cents"), lit(0L)).as("purchase_cents"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("click_cents"), lit(0L)).as("click_cents"))
      .transform(orderedOutput(_, col("day")))
  }

  /** a6: median absolute deviation — the robust dispersion statistic
    * (outlier-resistant where stddev is not): med = interpolated median
    * of integer cents (exact halves in both engines), then the median of
    * |cents - med|. Two aggregation passes over the same keyed frame;
    * every intermediate is an exact double derived from integers, so the
    * gate is bit-exact without any tolerance band.
    */
  def spendMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(col("event_type"), col("cents"))
    val med = ev
      .groupBy(col("event_type"))
      .agg(percentile(col("cents"), lit(0.5)).as("med_cents"))
    ev.join(med, Seq("event_type"))
      .withColumn("adev", abs(col("cents").cast("double") - col("med_cents")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        first(col("med_cents")).as("med_cents"),
        percentile(col("adev"), lit(0.5)).as("mad_cents"))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** q10: data-quality constraint suite — the expectations operator (the
    * deequ/Great-Expectations shape): primary-key uniqueness, null
    * checks, domain and range constraints, all counted in ONE pass over
    * the table and melted to one row per check. A pipeline gates
    * ingestion on `passed`; violations quantify how bad.
    */
  def dataQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    val agg = ev.agg(
      (count(lit(1)) - countDistinct(col("event_id"))).as("event_id_unique"),
      count(when(col("event_id").isNull, 1)).as("event_id_nonnull"),
      count(when(col("user_id").isNull, 1)).as("user_id_nonnull"),
      count(when(col("cents") < 0L || col("cents") > 100000L, 1)).as("cents_in_range"),
      count(when(
        !col("event_type").isin("click", "error", "purchase", "signup", "view"), 1))
        .as("event_type_in_domain"),
      count(when(
        col("ord_us") < 1704067200000000L || col("ord_us") >= 1735689600000000L, 1))
        .as("ts_in_2024"))
    agg
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        agg.columns.map(col),
        "check_name",
        "n_violations")
      .withColumn("passed", (col("n_violations") === 0L).cast("long"))
      .transform(orderedOutput(_, col("check_name")))
  }

  /** a7: table profile — per-column null/distinct/min/max summary (the
    * describe()/profiling operator) in ONE scan: every statistic is a
    * branch of a single aggregation, melted to one row per column;
    * min/max travel as strings so heterogeneous column types share one
    * output schema (numerics profile on exact integer cents, never
    * format-sensitive doubles).
    */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    def prof(c: String) = Seq(
      count(col(c)).as(s"${c}__n"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max"))
    val cols = Seq("event_id", "user_id", "event_type", "cents", "ord_us")
    val agg = ev.agg(prof(cols.head).head, (prof(cols.head).tail ++ cols.tail.flatMap(prof)): _*)
    val rows = cols.map { c =>
      s"('$c', ${c}__n, ${c}__distinct, ${c}__min, ${c}__max)"
    }
    agg
      .select(expr(
        s"stack(${cols.size}, ${rows.map(r => r.stripPrefix("(").stripSuffix(")")).mkString(", ")})")
        .as(Seq("column_name", "n_nonnull", "n_distinct", "min_str", "max_str")))
      .transform(orderedOutput(_, col("column_name")))
  }

  /** w15: moving median — per-user interpolated median over the trailing
    * 5 events (ROWS frame), the robust smoothing twin of w11's rolling
    * sum: percentile as a WINDOW aggregate (not just a group aggregate),
    * exact over integer cents in both engines. Shares w11's one
    * exchange + one sort shape.
    */
  def movingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ord_us"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    prepared(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ord_us"), col("cents"))
      .withColumn("med5_cents", percentile(col("cents"), lit(0.5)).over(w))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** s3: regex field extraction — pull the integer `k` out of the props
    * JSON with a regular expression (the schema-on-read fallback when a
    * field is NOT valid JSON everywhere — s2's json-path twin from the
    * other direction) and roll up per extracted value. Both engines run
    * the same pattern; the empty-match sentinel (-1) keeps nulls off the
    * gate.
    */
  def regexProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .events(spark, sfDir)
      .select(
        when(regexp_extract(col("props"), "\"k\": (\\d+)", 1) === "", lit(-1L))
          .otherwise(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
          .as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
      .transform(orderedOutput(_, col("k")))

  /** w16: three-step conversion funnel (view → click → purchase), the
    * product-analytics staple — for each user, the earliest view, the
    * earliest click AFTER that view, and the earliest purchase AFTER that
    * click (strict event-time ordering, not mere presence). Expressed as
    * three stacked whole-partition window minimums over ONE user-keyed
    * exchange (no per-step self-joins, no sort — unordered partition
    * aggregates); each step's conditional min references the previous
    * step's column, so the null of a missing step propagates and later
    * steps stay null, exactly the funnel drop-off semantics. The final
    * per-user collapse is a hash agg of already-constant columns.
    */
  def funnelStages(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    prepared(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ord_us"))
      .withColumn("t1", min(when(col("event_type") === "view", col("ord_us"))).over(w))
      .withColumn(
        "t2",
        min(when(col("event_type") === "click" && col("ord_us") > col("t1"), col("ord_us")))
          .over(w))
      .withColumn(
        "t3",
        min(when(col("event_type") === "purchase" && col("ord_us") > col("t2"), col("ord_us")))
          .over(w))
      .groupBy(col("user_id"))
      .agg(
        coalesce(min(col("t1")), lit(-1L)).as("t1_us"),
        coalesce(min(col("t2")), lit(-1L)).as("t2_us"),
        coalesce(min(col("t3")), lit(-1L)).as("t3_us"),
        when(min(col("t3")).isNotNull, lit(3L))
          .when(min(col("t2")).isNotNull, lit(2L))
          .when(min(col("t1")).isNotNull, lit(1L))
          .otherwise(lit(0L))
          .as("stage"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** w17: cohort retention matrix — users bucketed by the week of their
    * FIRST event, then counted per week-offset of their later activity
    * (the classic triangle chart behind every retention dashboard).
    * Weeks are exact integer epoch-week indices (`ord_us div week`), so
    * no calendar/timezone library crosses the gate. Two user-keyed hash
    * aggregations + one join that shares the events table's user_id
    * keying (co-partitioned at scale; broadcast at bench SF).
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(col("user_id"), col("ord_us"))
    val firsts = ev.groupBy(col("user_id")).agg(min(col("ord_us")).as("first_us"))
    ev.join(firsts, "user_id")
      .select(
        col("user_id"),
        expr(s"first_us div $WeekUs").as("cohort_week"),
        expr(s"ord_us div $WeekUs - first_us div $WeekUs").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .transform(orderedOutput(_, col("cohort_week"), col("week_offset")))
  }

  /** w18: SCD-2 interval build — collapse each user's event stream into
    * maximal runs of consecutive equal event_type and emit them as
    * valid_from/valid_to history rows (the slowly-changing-dimension
    * type-2 shape every warehouse backfill needs: change detection via
    * lag, run numbering via a running sum of change flags, then one
    * aggregation per run and a lead() to close each interval at the next
    * run's start; open intervals carry the -1 sentinel). The raw pass is
    * ONE user-keyed exchange + ONE sort; the second window runs over the
    * already-collapsed runs frame, which is strictly smaller.
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    prepared(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ord_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .withColumn(
        "chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(wOrd))
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(min(col("ord_us")).as("valid_from_us"), count(lit(1)).as("n_events"))
      .withColumn(
        "valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(wRun), lit(-1L)))
      .select("user_id", "run_id", "event_type", "valid_from_us", "valid_to_us", "n_events")
      .transform(orderedOutput(_, col("user_id"), col("run_id")))
  }

  /** w19: interval union (gaps-and-islands) — give every event a
    * [[CoverUs]] coverage interval, merge each user's overlapping (or
    * touching) intervals into maximal islands, and emit the merged spans
    * — the de-overlap primitive behind "total active time", meeting-room
    * style conflict collapse, and time-range dedup of crawler snapshots.
    * Island detection is the running max of interval ends over all PRIOR
    * rows (ROWS ... 1 PRECEDING): a row whose start exceeds that max
    * opens a new island; the island id is a running sum of those flags.
    * One user-keyed exchange + one sort, shared by both window layers,
    * then one hash agg per island.
    */
  private val CoverUs = 1800L * 1000000L

  def intervalUnion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    prepared(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ord_us"))
      .withColumn("end_us", col("ord_us") + CoverUs)
      .withColumn("prev_max", max(col("end_us")).over(wPrev))
      .withColumn(
        "new_island",
        when(col("prev_max").isNull || col("ord_us") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(wOrd))
      .groupBy(col("user_id"), col("island"))
      .agg(
        min(col("ord_us")).as("start_us"),
        max(col("end_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("span_us", col("end_us") - col("start_us"))
      .transform(orderedOutput(_, col("user_id"), col("island")))
  }

  /** j8: nearest-event join — each click matched to the SAME user's
    * temporally closest purchase within ±[[NearUs]] (ties: earlier, then
    * lower id). The symmetric-window nearest-neighbor complement of j3's
    * backward-only as-of: candidate pairs come from a (user, time-bin)
    * equi-join — purchases explode into the three bins their ±window can
    * touch, clicks carry one bin, the exact |Δt| predicate is a residual
    * filter — so the plan is BNLJ-free and pair count is bounded by
    * per-user-per-bin density, never |clicks|·|purchases|. One
    * row_number window picks the winner per click.
    */
  private val NearUs = 600L * 1000000L

  def nearestEvent(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ord_us").as("click_us"))
      .withColumn("_bin", expr(s"click_us div $NearUs"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ord_us").as("purchase_us"))
      .withColumn(
        "_bin",
        explode(
          sequence(
            expr(s"(purchase_us - $NearUs) div $NearUs"),
            expr(s"(purchase_us + $NearUs) div $NearUs"))))
    val w = Window
      .partitionBy(col("click_id"))
      .orderBy(abs(col("purchase_us") - col("click_us")), col("purchase_us"), col("purchase_id"))
    clicks
      .join(purchases, Seq("user_id", "_bin"))
      .filter(abs(col("purchase_us") - col("click_us")) <= NearUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("click_id"),
        col("user_id"),
        col("click_us"),
        col("purchase_id"),
        col("purchase_us"),
        (col("purchase_us") - col("click_us")).as("delta_us"))
      .transform(orderedOutput(_, col("click_id")))
  }

  /** a8: skewness/kurtosis numerators from exact integer power sums —
    * a5's machinery extended to the 3rd and 4th moments. The central
    * moment numerators n²Σx³−3nΣxΣx²+2(Σx)³ and
    * n³Σx⁴−4n²ΣxΣx³+6n(Σx)²Σx²−3(Σx)⁴ are combined in decimal(38,0)
    * (DuckDB HUGEINT — per-row cents⁴ already overflows a long) and
    * exported as DIGIT STRINGS, the one representation both engines
    * print identically at 128-bit width; the consumer divides by the
    * appropriate n·m2^k power downstream. One hash aggregation; every
    * statistic is a branch of it, and partial (map-side) combine applies
    * because integer sums are associative in any order.
    */
  def higherMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def d(c: org.apache.spark.sql.Column) = c.cast(d38)
    prepared(spark, sfDir)
      .select(col("event_type"), col("cents"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"),
        sum(col("cents") * col("cents") * col("cents")).as("s3"),
        sum(d(col("cents")) * col("cents") * col("cents") * col("cents")).as("s4"))
      .select(
        col("event_type"),
        col("n"),
        col("s1"),
        col("s2"),
        (d(col("n")) * col("s2") - d(col("s1")) * col("s1")).cast("string").as("m2_num"),
        (d(col("n")) * col("n") * col("s3")
          - d(lit(3L)) * col("n") * col("s1") * col("s2")
          + d(lit(2L)) * col("s1") * col("s1") * col("s1")).cast("string").as("m3_num"),
        (d(col("n")) * col("n") * col("n") * col("s4")
          - d(lit(4L)) * col("n") * col("n") * col("s1") * col("s3")
          + d(lit(6L)) * col("n") * col("s1") * col("s1") * col("s2")
          - d(lit(3L)) * col("s1") * col("s1") * col("s1") * col("s1"))
          .cast("string")
          .as("m4_num"))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** w20: concurrent-activity sweep line — every event opens a
    * [[ConcActiveUs]] activity interval; the query reports, per
    * [[ConcBinUs]] time bin, how many intervals are simultaneously open
    * (peak and end-of-bin), the load-curve primitive behind capacity
    * planning and concurrency SLAs. A naive global running sum over ±1
    * boundary deltas is a single-partition sort of 2n rows — a
    * scale-killer — so this is the TWO-LEVEL prefix sum: within-bin
    * running sums are computed under a bin-partitioned window (bounded
    * partitions, full parallelism), per-bin net deltas aggregate to a
    * tiny bins frame (corpus span / bin width rows), and only THAT frame
    * sees a global window to produce each bin's starting offset. Global
    * running state at any boundary = bin offset + within-bin running sum,
    * exactly — the classic scan-then-propagate decomposition, with the
    * serial step O(bins), not O(rows). Boundary tie order is (t, delta,
    * event_id): an interval closing at t is gone before one opening at t
    * is counted.
    */
  private val ConcActiveUs = 600L * 1000000L
  private val ConcBinUs = 3600L * 1000000L

  def concurrency(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir).select(col("event_id"), col("ord_us"))
    val deltas = ev
      .select(col("event_id"), col("ord_us").as("t"), lit(1L).as("d"))
      .unionAll(
        ev.select(col("event_id"), (col("ord_us") + ConcActiveUs).as("t"), lit(-1L).as("d")))
      .withColumn("bin", expr(s"t div $ConcBinUs"))
    val wIn = Window.partitionBy(col("bin")).orderBy(col("t"), col("d"), col("event_id"))
    val perBin = deltas
      .withColumn("run_in", sum(col("d")).over(wIn))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("d") === -1L, 1L).otherwise(0L)).as("n_ends"),
        sum(col("d")).as("net_delta"),
        max(col("run_in")).as("max_run_in"))
    val wBins = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)
    perBin
      .withColumn("offset", coalesce(sum(col("net_delta")).over(wBins), lit(0L)))
      .select(
        col("bin"),
        (col("bin") * ConcBinUs).as("bin_start_us"),
        col("n_starts"),
        col("n_ends"),
        col("net_delta"),
        (col("offset") + col("max_run_in")).as("max_conc"),
        (col("offset") + col("net_delta")).as("end_conc"))
      .transform(orderedOutput(_, col("bin")))
  }

  /** w21: time-weighted average spend (TWAP) — each event's cents value
    * "holds" until the user's next event (lead), the last until the
    * corpus high-water mark, and the average weights each value by its
    * holding duration — the standard price/state averaging that a plain
    * mean gets wrong under irregular sampling. Exported as the exact
    * integer numerator Σ cents·dur_us and denominator Σ dur_us (which
    * telescopes to the user's observed span) plus the one double
    * division, computed identically in both engines. One user-keyed
    * window + one hash agg. Overflow headroom: numerator ≤ max_cents ·
    * user_span_us ≈ 1e5 · 3e12 ≈ 3e17 per user — inside a long for any
    * horizon up to decades; a wider corpus combines in decimal(38).
    */
  def twapSpend(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
    val bounds = ev.agg(max(col("ord_us")).as("hi"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("dur_us", coalesce(lead(col("ord_us"), 1).over(w), col("hi")) - col("ord_us"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("dur_us")).as("held_us"),
        sum(col("cents") * col("dur_us")).as("twap_num"))
      .withColumn(
        "twap_cents",
        when(
          col("held_us") > 0,
          col("twap_num").cast("double") / col("held_us").cast("double")))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** w24: OHLC bars — the classic market-data resample: per (event_type,
    * hour) open/high/low/close/volume over the exact integer cents
    * stream. Open and close are picked by row_number over the bar
    * partition ordered by (ord_us, event_id) — event_id breaks timestamp
    * ties identically in both engines, so first/last are total-order
    * deterministic, never "whichever partition answered first". One
    * exchange on (event_type, bin); the two rank passes share it (two
    * sorts, zero extra shuffles), then a hash agg collapses to one row
    * per bar. At 100 TB bars are tiny relative to events, and every step
    * is map-side combinable after the single keyed exchange.
    */
  private val OhlcBarUs = 3600000000L // 1 hour

  def ohlcBars(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
      .withColumn("bin", expr(s"ord_us div $OhlcBarUs"))
    val asc = Window
      .partitionBy(col("event_type"), col("bin"))
      .orderBy(col("ord_us"), col("event_id"))
    val desc = Window
      .partitionBy(col("event_type"), col("bin"))
      .orderBy(col("ord_us").desc, col("event_id").desc)
    ev.select(
        col("event_type"),
        col("bin"),
        col("cents"),
        row_number().over(asc).as("rn_o"),
        row_number().over(desc).as("rn_c"))
      .groupBy(col("event_type"), col("bin"))
      .agg(
        max(when(col("rn_o") === 1, col("cents"))).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(when(col("rn_c") === 1, col("cents"))).as("close_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
      .select(
        col("event_type"),
        (col("bin") * OhlcBarUs).as("bar_start_us"),
        col("open_cents"),
        col("high_cents"),
        col("low_cents"),
        col("close_cents"),
        col("n_events"),
        col("sum_cents"))
      .transform(orderedOutput(_, col("event_type"), col("bar_start_us")))
  }

  /** j9: interval-overlap join — signup attention windows (3 h) against
    * error windows (1 h) per user, the classic two-interval-set overlap
    * join (campaign×session, outage×job, promo×purchase-window). Each
    * interval explodes into the fixed-width bins it spans (bin width =
    * the longer interval class, so ≤ 2 bins per interval), the join is a
    * plain (user, bin) equi-join — BNLJ-free at any scale — and a
    * distinct collapses the two-bin double-finds. Overlap length in
    * exact integer micros.
    */
  private val J9BinUs = 10800000000L // 3 h — the longer interval class
  private val J9ADurUs = 10800000000L // signup window
  private val J9BDurUs = 3600000000L // error window

  def overlapJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    def windows(tpe: String, durUs: Long, idCol: String, sCol: String, eCol: String) =
      ev.filter(col("event_type") === tpe)
        .select(
          col("user_id"),
          col("event_id").as(idCol),
          col("ord_us").as(sCol),
          (col("ord_us") + durUs).as(eCol))
    val a = windows("signup", J9ADurUs, "a_id", "a_s", "a_e")
      .withColumn("bin", explode(sequence(expr(s"a_s div $J9BinUs"), expr(s"(a_e - 1) div $J9BinUs"))))
    val b = windows("error", J9BDurUs, "b_id", "b_s", "b_e")
      .withColumn("bin", explode(sequence(expr(s"b_s div $J9BinUs"), expr(s"(b_e - 1) div $J9BinUs"))))
    a.join(b, Seq("user_id", "bin"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select(
        col("user_id"),
        col("a_id"),
        col("b_id"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s"))).as("overlap_us"))
      .distinct()
      .transform(orderedOutput(_, col("a_id"), col("b_id")))
  }

  /** w25: trailing-7-day distinct actives per day — the sliding
    * COUNT(DISTINCT) every activity dashboard needs, in the shape that
    * scales: each (user, day) fact fans out to the ≤7 report days it
    * contributes to (bounded 7x row growth — never a self-join of days
    * against raw events), then one hash count-distinct per report day.
    * The report-day set is exactly the days with any trailing activity.
    */
  private val DayUs = 86400000000L

  def activeUsers7d(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = prepared(spark, sfDir)
      .select(col("user_id"), expr(s"ord_us div $DayUs").as("day"))
      .distinct()
    val bounds = broadcast(ud.agg(max(col("day")).as("max_day")))
    ud.crossJoin(bounds)
      .select(
        col("user_id"),
        explode(sequence(col("day"), least(col("day") + 6, col("max_day")))).as("report_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(col("report_day"), (col("report_day") * DayUs).as("day_start_us"), col("n_active"))
      .transform(orderedOutput(_, col("report_day")))
  }

  /** a13: quantile binning — per-type quartile boundaries picked by exact
    * integer rank selection (rank ceil(p·n/100) in the (cents, event_id)
    * total order — no float percentile crosses the gate), broadcast back
    * over the stream, every event assigned bucket 1–4 by boundary
    * comparison, rolled up per (type, bucket). The boundary table is
    * O(|types|) — the 100 TB side is one window pass + one broadcast
    * join.
    */
  def quantileBinning(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir).select(col("event_type"), col("event_id"), col("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
    val ranked = ev
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val qs = ranked
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === expr("(25 * n + 99) div 100"), col("cents"))).as("q25"),
        max(when(col("rn") === expr("(50 * n + 99) div 100"), col("cents"))).as("q50"),
        max(when(col("rn") === expr("(75 * n + 99) div 100"), col("cents"))).as("q75"))
    ev.join(broadcast(qs), "event_type")
      .withColumn(
        "bucket",
        lit(1L) + when(col("cents") > col("q25"), 1L).otherwise(0L)
          + when(col("cents") > col("q50"), 1L).otherwise(0L)
          + when(col("cents") > col("q75"), 1L).otherwise(0L))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .transform(orderedOutput(_, col("event_type"), col("bucket")))
  }

  /** q15: explicit GROUPING SETS — the two one-dimension marginals plus
    * the grand total in ONE pass (the q6/q7 rollup/cube surface with a
    * hand-picked set list: no wasted (type, day) cells a cube would also
    * emit). grouping_id() disambiguates the all-NULL total row from a
    * genuine NULL key; the expansion happens map-side, one shuffle.
    */
  def groupingSetsSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
      .select(col("event_type"), expr(s"ord_us div $DayUs").as("day"), col("cents"))
    ev.groupingSets(
        Seq(Seq(col("event_type")), Seq(col("day")), Seq.empty[org.apache.spark.sql.Column]),
        col("event_type"),
        col("day"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
      .transform(orderedOutput(_, col("gid"), col("event_type"), col("day")))
  }

  /** a14: Benford first-digit profile — the leading-digit distribution of
    * cents per event type against which auditors flag fabricated numbers
    * (the reference domain is fraud detection; this is the data-quality
    * twin). First digit by string head — identical in both engines for
    * positive integers; share is the single final division against the
    * type total (window count, same pass).
    */
  def benfordDigits(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
      .filter(col("cents") > 0)
      .select(
        col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
    ev.groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_type", sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("share", col("n") / col("n_type"))
      .transform(orderedOutput(_, col("event_type"), col("digit")))
  }

  /** f13: leave-one-out target encoding — each event's category (type)
    * encoded as the mean spend of all OTHER events in the category, the
    * standard leakage-free categorical encoder for training data. Exact
    * integer numerator (Σcents − own) and denominator (n − 1) exported,
    * one double division, NULL for singleton categories in both engines.
    * One window pass over the category partition — no self-join.
    */
  def targetEncoding(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
    prepared(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("cents"))
      .withColumn("loo_num", sum(col("cents")).over(w) - col("cents"))
      .withColumn("loo_den", count(lit(1)).over(w) - 1L)
      .withColumn(
        "loo_mean",
        when(col("loo_den") > 0, col("loo_num") / col("loo_den")))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** f16: OUT-OF-FOLD target encoding — the leakage-free production form
    * of f13/f15: each row's category rate is computed from the OTHER
    * entity folds only (s16's user-hashed folds), so no row's own
    * fold — in particular no row's own user — contributes to its
    * encoding; the standard CV-encoding trick that keeps a high-cardinality
    * categorical feature from memorizing the training target. Scale
    * shape: ONE aggregation pass builds the (event_type × fold) frame
    * (|types|·K rows, broadcast), per-type totals fold over it, and each
    * row's out-of-fold numerator/denominator derive by SUBTRACTION
    * (total minus own fold) — never K scans and never a window over the
    * corpus.
    */
  def oofTargetEncoding(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = prepared(spark, sfDir)
      .select(
        col("event_id"),
        col("event_type"),
        col("cents"),
        pmod(
          conv(substring(Sampling.hashUniformHex("kfold", col("user_id")), 1, 1), 16, 10)
            .cast("long"),
          lit(KFolds)).as("fold"))
    val perFold = rows
      .groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("n_f"), sum(col("cents")).as("s_f"))
    val perType = perFold
      .groupBy(col("event_type"))
      .agg(sum(col("n_f")).as("n_t"), sum(col("s_f")).as("s_t"))
    rows
      .join(broadcast(perFold.join(perType, Seq("event_type"))), Seq("event_type", "fold"))
      .select(
        col("event_id"),
        col("fold"),
        (col("s_t") - col("s_f")).as("oof_num"),
        (col("n_t") - col("n_f")).as("oof_den"),
        when(col("n_t") - col("n_f") > 0L,
          (col("s_t") - col("s_f")) / (col("n_t") - col("n_f"))).as("oof_mean"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** w27: distribution-position features — percent_rank, cume_dist and
    * ntile(10) of each user's spend total within their event type, the
    * standard "where does this entity sit in its cohort" feature trio.
    * The order (total_cents, user_id) is total, so every rank function is
    * deterministic; percent_rank/cume_dist are single divisions of exact
    * integer rank counts (identical IEEE results in both engines) and
    * ntile follows the standard first-buckets-get-the-remainder rule.
    * One partitioned window pass — partitions are event types, so the
    * sort never goes global and the plan scales with executors.
    */
  def rankPositionFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = prepared(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("cents")).as("total_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("total_cents"), col("user_id"))
    totals
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .transform(orderedOutput(_, col("event_type"), col("user_id")))
  }

  /** a16: Gini concentration of spend across users per event type — the
    * inequality profile (is revenue whale-dominated?) every marketplace
    * health dashboard carries. G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over the
    * ascending (x, user) total order; the numerator and both factors stay
    * exact integers, and the result exports ×1e6 via two staged floor
    * divisions (num div n, then ·1e6 div Σx) so no intermediate exceeds
    * int64 even at 100 TB sums — both engines floor-divide identically,
    * so the gate is bit-exact with zero float crossings. One window pass
    * + one hash agg, partitioned by type throughout.
    */
  def giniSpend(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = prepared(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("cents")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"), col("user_id"))
    totals
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_cents"),
        sum(col("x") * col("i")).as("weighted"))
      .withColumn(
        "gini_x1e6",
        expr(
          "(((2L * weighted - (n_users + 1L) * sum_cents) div n_users) * 1000000L) div sum_cents"))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** s10: class-balanced downsampling — every event type (the class
    * label) capped to the minority class's count, the standard rebalance
    * before training on skewed labels. Per-class order is the
    * deterministic md5 draw (partition-independent, reproducible — the
    * s4-s8 discipline), the cap is the global min class count broadcast
    * back, and the gate pins the per-class aggregate of the surviving
    * sample (count + spend sum) so the exact membership is hashed without
    * exporting every sampled row. One window pass + one 5-row broadcast.
    */
  def balancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
      .select(
        col("event_id"),
        col("event_type"),
        col("cents"),
        md5(concat(lit("bal|"), col("event_id").cast("string"))).as("draw"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("draw"), col("event_id"))
    val minCnt = broadcast(
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_class"))
        .agg(min(col("n_class")).as("cap")))
    ev.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(minCnt)
      .filter(col("rk") <= col("cap"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("cents")).as("sum_cents_sampled"))
      .transform(orderedOutput(_, col("event_type")))
  }

  /** a17: behavioral diversity — per-user Gini impurity of the event-type
    * mix, 1 − Σpᵢ², the rational-arithmetic stand-in for entropy (no log
    * crosses the gate): impurity ×1e6 = (n² − Σcᵢ²)·1e6 div n², all
    * integers. Flags single-note bot accounts (impurity 0) vs diverse
    * organic users in one grouped pass + one per-user combine.
    */
  def typeDiversity(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_sq"))
      .withColumn(
        "impurity_x1e6",
        expr("((n_events * n_events - sum_sq) * 1000000L) div (n_events * n_events)"))
      .transform(orderedOutput(_, col("user_id")))

  /** a18: k-anonymity risk profile — equivalence-class sizes over the
    * quasi-identifier tuple (event_type, hour-of-day, spend band), banded
    * into the re-identification risk tiers a data-governance review reads
    * (singletons are directly re-identifiable; k < 5 is the classic
    * disclosure threshold). Two hash aggs; the class table is bounded by
    * the QI domain, so the profile is O(1) in corpus size.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .select(
        col("event_type"),
        expr("(ord_us div 3600000000) % 24").as("hour"),
        expr("cents div 1000").as("spend_band"))
      .groupBy(col("event_type"), col("hour"), col("spend_band"))
      .agg(count(lit(1)).as("s"))
      .withColumn(
        "k_band",
        when(col("s") === 1L, "1")
          .when(col("s") < 5L, "2-4")
          .when(col("s") < 10L, "5-9")
          .otherwise("10+"))
      .groupBy(col("k_band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("s")).as("n_rows"))
      .transform(orderedOutput(_, col("k_band")))

  /** q19: snapshot diff — the change-data view between two materialized
    * per-user aggregate states (cutoffs at Jan 15 / Jan 25, the p4
    * boundaries): which users appeared, which users' aggregates changed,
    * which are unchanged, with exact integer deltas. This is the
    * incremental-load audit every warehouse runs after a merge; one
    * grouped pass builds BOTH snapshots with conditional sums (no second
    * scan, no self-join — the newer snapshot strictly contains the
    * older window, so state1 is a filtered sub-aggregate of the same
    * rows).
    */
  private val SnapT1Us = 1705276800000000L // 2024-01-15T00:00:00Z
  private val SnapT2Us = 1706140800000000L // 2024-01-25T00:00:00Z

  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .filter(col("ord_us") < SnapT2Us)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ord_us") < SnapT1Us, 1L).otherwise(0L)).as("n1"),
        sum(when(col("ord_us") < SnapT1Us, col("cents")).otherwise(0L)).as("c1"),
        count(lit(1)).as("n2"),
        sum(col("cents")).as("c2"))
      .withColumn(
        "status",
        when(col("n1") === 0L, "added")
          .when(col("n2") === col("n1") && col("c2") === col("c1"), "unchanged")
          .otherwise("changed"))
      .select(
        col("user_id"),
        col("status"),
        (col("n2") - col("n1")).as("delta_n"),
        (col("c2") - col("c1")).as("delta_cents"))
      .transform(orderedOutput(_, col("user_id")))

  /** a19: feature drift — per-band chi-square contributions between the
    * spend-band distributions of two time windows (Jan 1-15 training vs
    * Jan 15-30 serving, the q19 cutover), per event type: the
    * train/serve skew monitor every deployed model needs, at the grain
    * a drift dashboard actually plots (WHICH band moved). Exact integer
    * band counts and window totals cross the gate; each term is
    * (n·c1 − m·c2)² / (m·n·(c1+c2)) with decimal(38) cross products and
    * ONE double division per row — deliberately NOT summed to a single
    * chi² here, because a float sum's value depends on partition order;
    * the per-band terms are each deterministic, and a caller summing
    * them accepts the usual float-reduction caveat.
    */
  def driftChiSquare(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val banded = prepared(spark, sfDir)
      .select(
        col("event_type"),
        expr("cents div 1000").as("spend_band"),
        when(col("ord_us") < SnapT1Us, 1L).otherwise(0L).as("w1"))
      .groupBy(col("event_type"), col("spend_band"))
      .agg(
        sum(col("w1")).as("c1"),
        sum(lit(1L) - col("w1")).as("c2"))
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy(col("event_type"))
    banded
      .withColumn("m", sum(col("c1")).over(wT))
      .withColumn("n", sum(col("c2")).over(wT))
      .withColumn(
        "diff_d",
        (col("n").cast(d38) * col("c1").cast(d38) - col("m").cast(d38) * col("c2").cast(d38))
          .cast("double"))
      .withColumn(
        "den_d",
        (col("m").cast(d38) * col("n").cast(d38) * (col("c1") + col("c2")).cast(d38))
          .cast("double"))
      .withColumn("chi2_term", col("diff_d") * col("diff_d") / col("den_d"))
      .select("event_type", "spend_band", "c1", "c2", "m", "n", "chi2_term")
      .transform(orderedOutput(_, col("event_type"), col("spend_band")))
  }

  /** w28: inter-event gap histogram — per event type, the distribution of
    * user-level inter-arrival times bucketed by bit length (floor(log2)
    * without any float log: the integer bit-length of the gap in
    * seconds), the latency/cadence profile operations dashboards draw.
    * One partitioned lag window + one hash agg.
    */
  def gapHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    prepared(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ord_us"), col("event_id"))
      .withColumn("prev_us", lag(col("ord_us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_s", expr("(ord_us - prev_us) div 1000000L"))
      .withColumn(
        "bucket",
        when(col("gap_s") <= 0L, 0L)
          .otherwise(expr("length(bin(gap_s))").cast("long")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sum_gap_s"))
      .transform(orderedOutput(_, col("event_type"), col("bucket")))
  }

  /** x1: partitioned-layout scan — the storage-layout half
    * [[graft.sources.Bucketed]] did for JOIN keys, applied to PREDICATE
    * columns: events re-written Hive-partitioned by `event_type`
    * (`event_type=v/` directories), then a two-type rollup read back
    * through the catalog. The filter resolves against partition METADATA
    * at planning time — the scan lists only the two matching directories
    * and carries no row-level event_type predicate at all
    * (PlanPostureSpec asserts both), which at 100 TB is the difference
    * between reading 2/5 of a table and all of it. The gate measures the
    * full lifecycle (write + pruned read), mirroring v5's index
    * build-then-probe shape; the rollup itself is exact integers.
    */
  def partitionedScan(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.Bucketed.writePartitioned(
      prepared(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ord_us"), col("cents")),
      "graft_events_by_type",
      "event_type")
    partitionedScanProbe(spark)
  }

  /** The pruned-read half of x1 against the standing partitioned table —
    * split out so PlanPostureSpec can assert the probe plan alone.
    */
  def partitionedScanProbe(spark: SparkSession): DataFrame =
    spark
      .table("graft_events_by_type")
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"),
        min(col("ord_us")).as("first_us"),
        max(col("ord_us")).as("last_us"))
      .transform(orderedOutput(_, col("event_type")))

  /** Lifecycle-gate sandbox: run `body` against a PER-INVOCATION temp
    * directory (not the shared warehouse dir — two sessions, or two
    * concurrent invocations in one session, can never race each other's
    * write/read halves), materialize the gate's small aggregate result,
    * RECLAIM the sandbox, and hand the rows back as a local relation.
    * The reclaim is the round-10 advice item: each bench rep of x3–x10
    * otherwise left a full filtered-corpus parquet copy in /tmp,
    * accreting GBs across reps and the 10x scale harness. The timed reps
    * still pay the write+read work — the collect happens inside the gate
    * call; that is the honest price of a lifecycle gate and is called
    * out wherever these gates appear in a bench table.
    */
  private def sandboxed(spark: SparkSession)(body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lifecycle")
    try {
      val df = body(dir.toString)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_))
          finally s.close()
        }
        try { java.nio.file.Files.deleteIfExists(p); () }
        catch { case _: Throwable => () }
      }
      rm(dir)
    }
  }

  /** x3: schema-evolution read — the lakehouse lifecycle where a table's
    * later file generation gains a column and readers must still see ONE
    * coherent schema. Gen-1 files carry (event_id, user_id, cents);
    * gen-2 files add `channel` (derived from user_id, so both engines
    * synthesize it identically). The read half exercises Spark's
    * `mergeSchema` + recursive file listing: old rows surface with
    * channel NULL (folded to 'legacy' at the aggregate so the gate key
    * is total). The oracle never touches the written files — it derives
    * the same rollup from the base table, so a row lost or misaligned by
    * the evolution read diverges the hash. Generation split is
    * event_id parity: scale-free, no cutoff constant. Runs in the
    * reclaimed [[sandboxed]] lifecycle sandbox.
    */
  def schemaEvolutionScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { loc =>
    val base = prepared(spark, sfDir).select(col("event_id"), col("user_id"), col("cents"))
    base
      .filter(pmod(col("event_id"), lit(2L)) === 0L)
      .write.mode("overwrite").parquet(s"$loc/gen1")
    base
      .filter(pmod(col("event_id"), lit(2L)) === 1L)
      .withColumn(
        "channel",
        when(pmod(col("user_id"), lit(3L)) === 0L, "web")
          .when(pmod(col("user_id"), lit(3L)) === 1L, "app")
          .otherwise("api"))
      .write.mode("overwrite").parquet(s"$loc/gen2")
    spark.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .parquet(loc)
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .transform(orderedOutput(_, col("channel")))
  }

  /** The x4–x10 snapshot-lifecycle gates share one base frame: the
    * prepared events projected to (event_id, user_id, cents).
    */
  private def snapBase(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir).select(col("event_id"), col("user_id"), col("cents"))

  /** x4: snapshot isolation / time-travel read ([[graft.sources.Snapshots]])
    * — the versioned-table lifecycle next to x3's schema evolution: three
    * commits (overwrite, append, overwrite) against one table directory,
    * then every HISTORICAL version read back as of its manifest. The gate
    * pins that v1 stays bit-stable after later commits logically replace
    * it (time travel), that v2 sees v1's files plus its own (append
    * semantics), and that v3 sees only its own (overwrite semantics) —
    * the read-side contract a reproducible training run depends on
    * ("train against snapshot v2" must mean the same rows forever). The
    * generation split is event_id mod 3 (scale-free); the oracle derives
    * each version's expected contents from the base table, so a row
    * leaked across snapshots diverges the hash. Runs in the reclaimed
    * [[sandboxed]] lifecycle sandbox (timed reps include the writes).
    */
  def timeTravelScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 0L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 1L), dir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    val perVersion = (1 to 3).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("n_users"), col("sum_cents"),
          col("min_event_id"), col("max_event_id"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** x5: zone-map file skipping ([[graft.sources.Snapshots.readVersionRange]])
    * — the data-skipping half of the lakehouse story z1 audits: the
    * commit records each file's min/max of the clustering column in the
    * manifest, and a range read hands the scan ONLY the overlapping
    * files (planning-time skipping) with the exact BETWEEN kept as the
    * residual row-group filter. The table is range-clustered by `cents`
    * at write (repartitionByRange — what OPTIMIZE ... ORDER BY buys), so
    * a selective spend range touches O(matching files): SnapshotsSpec
    * pins the actual file-count reduction; this gate pins that pruning
    * NEVER changes results (the oracle filters the base table directly —
    * a row lost to an over-eager zone map diverges the hash). File
    * layout is nondeterministic across runs (range sampling), results
    * are not — the gate aggregates, never enumerates files.
    */
  def zoneMapScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("cents")), dir, Seq("cents"))
    Snapshots
      .readVersionRange(spark, dir, 1, "cents", 1000L, 4999L)
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
  }

  /** x6: copy-on-write row-level delete ([[graft.sources.Snapshots
    * .commitDelete]]) — the erasure lifecycle over x4's snapshots and
    * x5's zone maps composed: v1 commits the range-clustered table, the
    * delete rewrites ONLY the files whose zone map overlaps the doomed
    * spend range (SnapshotsSpec pins the carried-file evidence), and v2
    * publishes. The gate reads BOTH versions: v1 must still hold every
    * row (time travel across a delete — the audit/reproducibility
    * contract), v2 must hold none in the range and all outside it. The
    * oracle derives both version's expected contents from the base
    * table, so a row over- or under-deleted diverges the hash.
    */
  def rowDeleteScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("cents")), dir, Seq("cents"))
    Snapshots.commitDelete(spark, dir, "cents", 1000L, 4999L)
    val perVersion = (1 to 2).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          sum(when(col("cents").between(1000L, 4999L), 1L).otherwise(0L)).as("n_in_range"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("sum_cents"), col("n_in_range"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** x22: MERGE-ON-READ row-level delete ([[graft.sources.Snapshots
    * .commitDeleteMor]]) — x6's erasure lifecycle on the deletion-vector
    * path: v2 records the doomed positions in a sidecar and moves ZERO
    * data files (SnapshotsSpec pins the identical file list), v3 is the
    * OPTIMIZE that folds the vector into a clean rewrite. The gate reads
    * all three versions under ONE oracle derivation shared with the COW
    * path: v1 whole (time travel), v2 and v3 bit-identical to each other
    * and to x6's post-delete state — the read-side contract that makes
    * COW and MOR interchangeable to every consumer, while the write side
    * trades rewrite amplification for a read-time anti-join.
    */
  def morDeleteScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("cents")), dir, Seq("cents"))
    Snapshots.commitDeleteMor(spark, dir, "cents", 1000L, 4999L)
    Snapshots.commitOptimize(spark, dir, targetFileBytes = 64L << 20)
    val perVersion = (1 to 3).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          sum(when(col("cents").between(1000L, 4999L), 1L).otherwise(0L)).as("n_in_range"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("sum_cents"), col("n_in_range"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** x7: vacuum (retention) read — the erasure lifecycle COMPLETED: after
    * x6's copy-on-write delete, the doomed rows still exist physically in
    * the expired version's files; [[graft.sources.Snapshots.vacuum]]
    * reference-counts data files across the surviving manifests and
    * deletes the unreferenced ones plus the expired manifests — only then
    * is the GDPR contract physically honored. The gate vacuums down to
    * the post-delete version and reads it: bit-identical to x6's v2 (the
    * oracle derives it from the base table), proving the pass deleted
    * ONLY unreferenced files. SnapshotsSpec pins the sharper
    * reference-counting contracts (append-carried files survive a vacuum
    * that still keeps any referencing version; expired versions stop
    * reading).
    */
  def vacuumScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("cents")), dir, Seq("cents"))
    Snapshots.commitDelete(spark, dir, "cents", 1000L, 4999L)
    Snapshots.vacuum(spark, dir, keepFrom = 2)
    Snapshots
      .readLatest(spark, dir)
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"),
        sum(when(col("cents").between(1000L, 4999L), 1L).otherwise(0L)).as("n_in_range"))
  }

  /** Payload shift for x8's merged rows — far above any organic cents
    * value (round(value*100) tops out in the tens of thousands), so
    * "modified" is unmistakable in the aggregates.
    */
  private val MergeShift = 1000000000L

  /** x8: copy-on-write MERGE / keyed upsert ([[graft.sources.Snapshots
    * .commitMerge]]) — the BATCH form of the reference's last-writer-wins
    * put_record semantic (reference src/lambda/StreamingIngestAggFeatures/
    * lambda_function.py:31) lifted onto the versioned table: v1 commits
    * the base (event_id % 3 != 2) range-clustered by event_id, then one
    * changes batch UPDATES every key with event_id % 5 == 0 and INSERTS
    * the % 3 == 2 keys, each carrying a +[[MergeShift]] payload. The gate
    * reads BOTH versions: v1 must be untouched (time travel across a
    * merge), v2 must hold exactly base-minus-matched plus changes — a row
    * double-kept, double-inserted, or rewritten into the wrong file
    * diverges n_events/sum_cents/n_modified. Zone-map pruning (only
    * key-overlapping files rewritten) is pinned by SnapshotsSpec; the
    * oracle derives both versions from the base table. Runs in the
    * reclaimed [[sandboxed]] lifecycle sandbox.
    */
  def mergeUpsertScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(8, col("event_id")),
      dir,
      Seq("event_id"))
    val changes = base
      .filter(pmod(col("event_id"), lit(5L)) === 0L || pmod(col("event_id"), lit(3L)) === 2L)
      .withColumn("cents", col("cents") + lit(MergeShift))
    Snapshots.commitMerge(spark, dir, changes, "event_id")
    val perVersion = (1 to 2).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"),
          sum(when(col("cents") >= MergeShift, 1L).otherwise(0L)).as("n_modified"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("n_users"), col("sum_cents"), col("n_modified"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** x26: MERGE-ON-READ keyed upsert ([[graft.sources.Snapshots
    * .commitMergeMor]]) — x8's merge lifecycle on the deletion-vector
    * path: v2 tombstones the matched base rows into the sidecar and
    * lands the change batch as NEW files (zero existing files move —
    * SnapshotsSpec pins the identical carried file list), v3 is the
    * OPTIMIZE that folds the vector into a clean rewrite. The gate reads
    * all three versions under ONE oracle derivation shared with the COW
    * path: v1 untouched (time travel across the merge), v2 and v3
    * bit-identical to each other and to x8's post-merge state — the
    * read-side contract that makes COW and MOR merges interchangeable to
    * every consumer, while the write side trades rewrite amplification
    * for a read-time anti-join. Runs in the reclaimed [[sandboxed]]
    * lifecycle sandbox.
    */
  def mergeMorScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(8, col("event_id")),
      dir,
      Seq("event_id"))
    val changes = base
      .filter(pmod(col("event_id"), lit(5L)) === 0L || pmod(col("event_id"), lit(3L)) === 2L)
      .withColumn("cents", col("cents") + lit(MergeShift))
    Snapshots.commitMergeMor(spark, dir, changes, "event_id")
    Snapshots.commitOptimize(spark, dir, targetFileBytes = 64L << 20)
    val perVersion = (1 to 3).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"),
          sum(when(col("cents") >= MergeShift, 1L).otherwise(0L)).as("n_modified"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("n_users"), col("sum_cents"), col("n_modified"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** x27: Bloom-sidecar point lookup ([[graft.sources.Snapshots
    * .buildBlooms]] / [[graft.sources.Snapshots.readVersionPoint]]) —
    * equality file-skipping on a HIGH-CARDINALITY UNCLUSTERED key, the
    * case zone maps cannot prune (the table is range-clustered on cents,
    * so every file's event_id range spans the whole domain): per-file
    * Bloom sidecars are built in one distributed aggregate pass, and a
    * point lookup consults |files| bit arrays before scanning. Three
    * lookups — the max id, an arbitrary interior id, and a guaranteed
    * MISS (max+1) — pin that pruning never changes results: the oracle
    * filters the base table directly, so a false-negative bloom (a
    * dropped real row) diverges the hash, and the miss must return zero
    * rows even though no file is ever trusted for inclusion.
    * SnapshotsSpec pins the actual file-skip counts; the gate, as
    * always, pins results. Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def bloomLookupScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("cents")), dir, Seq("cents"))
    Snapshots.buildBlooms(spark, dir, 1, "event_id", nBits = 1 << 17, nHashes = 5)
    val mx = base.agg(max(col("event_id"))).head().getLong(0)
    Seq(mx, mx / 2, mx + 1)
      .map(id => Snapshots.readVersionPoint(spark, dir, 1, "event_id", id))
      .reduce(_.unionByName(_))
      .select(col("event_id"), col("user_id"), col("cents"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** x9: versioned OPTIMIZE ([[graft.sources.Snapshots.commitOptimize]])
    * — compaction-as-a-commit over the fragmented table the exactly-once
    * streaming sink produces: v1..v3 accrete 40 small files across three
    * appends (each deliberately multi-file), v4 = OPTIMIZE bin-packs them
    * range-clustered on cents. The gate reads v3 and v4 with identical
    * aggregates: OPTIMIZE must move BYTES, never data — any row lost,
    * duplicated, or mutated by the rewrite diverges the version pair.
    * File-count reduction, tightened zone maps, and fragment reclaim via
    * vacuum are pinned by SnapshotsSpec (file layout is nondeterministic;
    * the gate aggregates, never enumerates files). Runs in the reclaimed
    * [[sandboxed]] lifecycle sandbox.
    */
  def optimizeScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) === 0L).repartition(16), dir, Seq("cents"))
    Snapshots.commitAppend(
      base.filter(pmod(col("event_id"), lit(3L)) === 1L).repartition(16), dir, Seq("cents"))
    Snapshots.commitAppend(
      base.filter(pmod(col("event_id"), lit(3L)) === 2L).repartition(8), dir, Seq("cents"))
    Snapshots.commitOptimize(spark, dir)
    val perVersion = Seq(3, 4).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("n_users"), col("sum_cents"),
          col("min_event_id"), col("max_event_id"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** x10: MULTI-column zone maps over a Z-ordered layout — the pruning
    * story z1 audits, closed end-to-end: the commit interleaves
    * (user_id, cents) into a Morton key ([[graft.operators.ZOrder]]),
    * range-partitions on the curve, and declares BOTH columns as zone-map
    * stats; [[graft.sources.Snapshots.readVersionRange]] then prunes
    * files for a predicate on EITHER dimension (x5 could prune on exactly
    * one). The gate runs one range read per dimension and tags the rows;
    * the oracle filters the base table directly, so a file wrongly
    * skipped on either dimension diverges that dimension's aggregates.
    * File-count pruning evidence on both dimensions is pinned by
    * SnapshotsSpec. Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def multiZoneScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    val zk = graft.operators.ZOrder.interleaveCol(
      col("user_id").bitwiseAND(lit(65535L)),
      col("cents").bitwiseAND(lit(65535L)))
    Snapshots.commitOverwrite(
      base.withColumn("zk", zk).repartitionByRange(8, col("zk")).drop("zk"),
      dir,
      Seq("user_id", "cents"))
    def slice(dim: String, lo: Long, hi: Long) = Snapshots
      .readVersionRange(spark, dir, 1, dim, lo, hi)
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .select(
        lit(dim).as("dim"),
        col("n_events"), col("n_users"), col("sum_cents"),
        col("min_event_id"), col("max_event_id"))
    slice("user_id", 100L, 299L)
      .unionByName(slice("cents", 1000L, 4999L))
      .transform(orderedOutput(_, col("dim")))
  }

  /** x11: VERSIONED schema evolution — x3's mergeSchema read lifted
    * through the snapshot table (x3 evolves a raw directory; here the
    * manifest pins each version's exact file list, so the SCHEMA itself
    * time-travels): v1 commits the table before the `channel` column
    * existed, v2 appends a file generation that carries it. The gate
    * reads v1 (which must still present the PRE-evolution schema — its
    * one output row is the whole-snapshot rollup) and v2 through
    * [[graft.sources.Snapshots.readVersionMerged]] (old rows surface
    * with channel NULL, folded to 'legacy'). The oracle derives both
    * versions' rollups from the base table, so a row lost at the
    * evolution boundary, a misaligned merged column, or a v1 read
    * polluted by the later generation diverges the hash. SnapshotsSpec
    * pins the sharper schema contract (v1's columns do NOT contain
    * `channel`; zone maps on the all-generations column still prune
    * across the boundary). Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def schemaTravelScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(4, col("event_id")),
      dir,
      Seq("event_id"))
    val gen2 = base
      .filter(pmod(col("event_id"), lit(3L)) === 2L)
      .withColumn(
        "channel",
        when(pmod(col("user_id"), lit(3L)) === 0L, "web")
          .when(pmod(col("user_id"), lit(3L)) === 1L, "app")
          .otherwise("api"))
    Snapshots.commitAppend(gen2, dir, Seq("event_id"))
    val v1 = Snapshots
      .readVersion(spark, dir, 1)
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(
        lit(1L).as("version"), lit("legacy").as("channel"),
        col("n_events"), col("n_users"), col("sum_cents"))
    val v2 = Snapshots
      .readVersionMerged(spark, dir, 2)
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(
        lit(2L).as("version"), col("channel"),
        col("n_events"), col("n_users"), col("sum_cents"))
    v1.unionByName(v2)
      .transform(orderedOutput(_, col("version"), col("channel")))
  }

  /** x24: metadata-only TYPE WIDENING ([[graft.sources.Snapshots
    * .commitWiden]]) — x21's rename lifecycle with the OTHER
    * schema-evolution verb: v1 writes two thirds of the corpus with
    * `cents` physically narrow (int — the legacy-producer schema); v2
    * widens it to long WITHOUT rewriting a file (an op=widen manifest
    * with the identical file list plus a scoped `_schema/` entry); v3
    * appends the last third, physically wide natively. The gate reads
    * v1 (narrow, schema time travel) and v3 (int and long generations
    * unified by a read-time cast — a raw mixed-footer read would
    * refuse) and aggregates both — values are cast-invariant, so the
    * oracle is x21's SQL shape verbatim; the TYPE discipline (v1 int,
    * v3 long, append natively wide, fold by OPTIMIZE, rewrite
    * refusals) is pinned by SnapshotsSpec. Runs in the reclaimed
    * [[sandboxed]] sandbox.
    */
  def typeWideningScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base
        .filter(pmod(col("event_id"), lit(3L)) =!= 2L)
        .withColumn("cents", col("cents").cast("int")),
      dir)
    Snapshots.commitWiden(spark, dir, "cents", "long")
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    val v1 = Snapshots
      .readVersionEvolved(spark, dir, 1)
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(1L).as("version"), lit(-1L).as("third"), col("n_events"), col("n_users"),
        col("sum_cents"))
    val v3 = Snapshots
      .readVersionEvolved(spark, dir, 3)
      .groupBy(pmod(col("event_id"), lit(3L)).as("third"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(3L).as("version"), col("third"), col("n_events"), col("n_users"),
        col("sum_cents"))
    v1.unionByName(v3)
      .transform(orderedOutput(_, col("version"), col("third")))
  }

  /** x25: metadata-only DROP COLUMN ([[graft.sources.Snapshots
    * .commitDropColumn]]) — the third schema-evolution verb next to
    * x21's rename and x24's widen: v1 writes two thirds of the corpus
    * WITH a legacy `tmp_flag` column; v2 drops it WITHOUT rewriting a
    * file (an op=drop manifest + scoped `_schema/` entry); v3 appends
    * the last third written without the column. The gate reads v1
    * (column visible — schema time travel: the pre-drop generation
    * aggregates BY the flag) and v3 (column projected away from the
    * physically-mixed generations, aggregated by thirds); the oracle
    * derives both from the base table. The TYPE/visibility discipline
    * (v1 has it, v3 doesn't, rewrites refuse while active, OPTIMIZE
    * folds) is pinned by SnapshotsSpec.
    */
  def dropColumnScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base
        .filter(pmod(col("event_id"), lit(3L)) =!= 2L)
        .withColumn("tmp_flag", pmod(col("event_id"), lit(2L))),
      dir)
    Snapshots.commitDropColumn(spark, dir, "tmp_flag")
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    val v1 = Snapshots
      .readVersionEvolved(spark, dir, 1)
      .groupBy(col("tmp_flag").as("key"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(1L).as("version"), col("key"), col("n_events"), col("n_users"),
        col("sum_cents"))
    val latest = Snapshots.readVersionEvolved(spark, dir, 3)
    require(!latest.columns.contains("tmp_flag"), "dropped column must be invisible at v3")
    val v3 = latest
      .groupBy(pmod(col("event_id"), lit(3L)).as("key"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(3L).as("version"), col("key"), col("n_events"), col("n_users"),
        col("sum_cents"))
    v1.unionByName(v3)
      .transform(orderedOutput(_, col("version"), col("key")))
  }

  /** x21: metadata-only COLUMN RENAME ([[graft.sources.Snapshots
    * .commitRename]]) — the Delta/Iceberg column-mapping lifecycle: v1
    * writes two thirds of the corpus under the legacy physical name
    * `amount_cents`; v2 renames it to `cents` WITHOUT rewriting a file
    * (an op=rename manifest with the identical file list plus a scoped
    * `_schema/` mapping entry); v3 appends the last third, physically
    * written under the new name. The gate reads v1 through the
    * rename-aware reader and still sees `amount_cents` (schema time
    * travel — a pre-rename snapshot keeps its schema forever), then
    * reads v3 where BOTH physical generations unify under `cents`,
    * rolled up by generation (event_id thirds) so a file whose mapping
    * was dropped or misapplied diverges its generation's row. The
    * oracle derives every row from the base table — it never sees the
    * rename, so only a correct mapping reproduces it. Runs in the
    * reclaimed [[sandboxed]] lifecycle sandbox (timed reps include the
    * writes). Metadata-only-ness and the validation/race contracts are
    * pinned by SnapshotsSpec.
    */
  def columnRenameScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).withColumnRenamed("cents", "amount_cents"),
      dir)
    Snapshots.commitRename(spark, dir, "amount_cents", "cents")
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    val v1 = Snapshots
      .readVersionEvolved(spark, dir, 1)
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("amount_cents")).as("sum_cents"))
      .select(lit(1L).as("version"), lit(-1L).as("third"), col("n_events"), col("n_users"),
        col("sum_cents"))
    val v3 = Snapshots
      .readVersionEvolved(spark, dir, 3)
      .groupBy(pmod(col("event_id"), lit(3L)).as("third"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(3L).as("version"), col("third"), col("n_events"), col("n_users"),
        col("sum_cents"))
    v1.unionByName(v3)
      .transform(orderedOutput(_, col("version"), col("third")))
  }

  /** x12: incremental read / append diff ([[graft.sources.Snapshots
    * .readChangesSince]]) — the consumption half of the exactly-once
    * sink's production half: three commits build the table (overwrite,
    * append, append — event_id thirds), and the gate reads the rows
    * ADDED after each checkpoint version (since v1 = thirds 1+2, since
    * v2 = third 2 only) plus the empty diff (v3→v3). A manifest diff
    * selects exactly the new files — no re-scan of consumed history —
    * which is what lets a 100 TB training pipeline poll a snapshot
    * table instead of re-reading it. The oracle derives every diff from
    * the base table, so a row re-delivered (consumed twice) or dropped
    * at a version boundary diverges the hash; the append-only
    * precondition (a delete/OPTIMIZE in the range refuses) is pinned by
    * SnapshotsSpec. Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def incrementalReadScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 0L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 1L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    val diffs = Seq((1, 3), (2, 3), (3, 3)).map { case (from, to) =>
      Snapshots
        .readChangesSince(spark, dir, from, to)
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
        .select(
          lit(from.toLong).as("from_version"),
          col("n_events"), col("n_users"), col("sum_cents"))
    }
    diffs
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("from_version")))
  }

  /** x23: the STREAMING TABLE TAIL ([[graft.streaming.SnapshotsStreamSource]])
    * — x12's incremental read consumed as a real Structured Streaming
    * source: the same three-commit table, tailed with Trigger.AvailableNow
    * from each version cursor (the offset IS the version), every drained
    * micro-batch landed in a sandbox sink and aggregated. The oracle is
    * x12's SQL VERBATIM: the stream must deliver exactly the batch
    * append-diff, or the hash diverges — the stream ≡ batch contract as
    * an oracle gate, not just a spec. Cursor 3 (nothing past it) must
    * drain zero batches and aggregate to the x12 empty-diff row.
    */
  def streamTailScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 0L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 1L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    val diffs = Seq(1, 2, 3).map { from =>
      val sink = s"$dir/tail_$from"
      val q = spark.readStream
        .format("graft.streaming.SnapshotsStreamSource")
        .option("path", dir)
        .option("startingVersion", from.toString)
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ck_$from")
        .start()
      q.awaitTermination()
      val drained =
        if (new java.io.File(sink).exists()) spark.read.parquet(sink)
        else base.limit(0)
      drained
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
        .select(
          lit(from.toLong).as("from_version"),
          col("n_events"), col("n_users"), col("sum_cents"))
    }
    diffs
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("from_version")))
  }

  /** x13: RESTORE as a commit ([[graft.sources.Snapshots.commitRestore]])
    * — the rollback lifecycle: v1 commits third 0, v2 appends third 1, v3
    * OVERWRITES with third 2 (the "bad deploy" that replaced the table),
    * v4 restores to v2. The gate reads v2, v3 AND v4: v4 must reproduce
    * v2 exactly (the rollback) while v3 stays readable (the undo is
    * itself audit-logged history, not a rewrite) — a restore that copied
    * data, resurrected v3 rows, or dropped a carried file diverges the
    * per-version aggregates. Zero-copy (v4's manifest lists v2's files by
    * reference) and vacuum's refcounting across a restore are pinned by
    * SnapshotsSpec. Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def restoreScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 0L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 1L), dir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    Snapshots.commitRestore(spark, dir, 2)
    val perVersion = (2 to 4).map { v =>
      Snapshots
        .readVersion(spark, dir, v)
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .select(
          lit(v.toLong).as("version"),
          col("n_events"), col("n_users"), col("sum_cents"),
          col("min_event_id"), col("max_event_id"))
    }
    perVersion
      .reduce(_.unionByName(_))
      .transform(orderedOutput(_, col("version")))
  }

  /** Key offset for x14's merge-inserted rows — far above any organic
    * event_id, so inserted keys never collide with base keys.
    */
  private val CdfInsertOffset = 1000000000000L

  /** x14: CHANGE DATA FEED ([[graft.sources.Snapshots.readChangeFeed]]) —
    * the row-level consumption primitive that keeps a downstream store in
    * sync without re-scanning the table: v1 commits two-thirds of the
    * base (event_id-clustered), v2 APPENDS the rest (feed: inserts from
    * the manifest diff — zero recorded state), v3 MERGES updates (%7
    * keys, +[[MergeShift]]) plus brand-new keys (%11, offset by
    * [[CdfInsertOffset]]) (feed: update_preimage/update_postimage/insert
    * from the commit's recorded change files), v4 DELETES a cents range
    * (feed: the deleted rows), v5 OPTIMIZEs (feed: NOTHING — bytes moved,
    * rows identical, and the gate reads across it to prove so). The gate
    * aggregates the whole feed by (version, change_type); the oracle
    * derives every change set from the base table, so a phantom change,
    * a lost preimage, or an optimize that leaked "changes" diverges the
    * hash. Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def changeFeedScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(8, col("event_id")),
      dir,
      Seq("event_id", "cents"))
    Snapshots.commitAppend(
      base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir, Seq("event_id", "cents"))
    val updates = base
      .filter(pmod(col("event_id"), lit(7L)) === 0L)
      .withColumn("cents", col("cents") + lit(MergeShift))
    val inserts = base
      .filter(pmod(col("event_id"), lit(11L)) === 0L)
      .withColumn("event_id", col("event_id") + lit(CdfInsertOffset))
    Snapshots.commitMerge(spark, dir, updates.unionByName(inserts), "event_id")
    Snapshots.commitDelete(spark, dir, "cents", 1000L, 4999L)
    Snapshots.commitOptimize(spark, dir)
    Snapshots
      .readChangeFeed(spark, dir, 1, 5)
      .groupBy(
        col(Snapshots.ChangeVersionCol).as("version"),
        col(Snapshots.ChangeTypeCol).as("change_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .transform(orderedOutput(_, col("version"), col("change_type")))
  }

  /** x17: INCREMENTAL VIEW MAINTENANCE from the change feed — the
    * aggregate-table half of the CDF story: a per-bucket (user_id mod
    * 16) count/sum view is checkpointed at v1, the table then mutates
    * through merge (updates + inserts), a range delete, and an append,
    * and the view is brought current by applying ONLY the feed's signed
    * delta (insert/update_postimage +1, delete/update_preimage −1) —
    * one keyed join against a |buckets|-sized frame, never a rescan of
    * the table. At 100 TB this is the difference between a view refresh
    * that costs O(changes) and one that costs O(table). The gate emits
    * the incrementally-maintained view NEXT TO the direct recompute
    * under a `method` key; the oracle derives ONE truth for both rows,
    * so drift in either path (a missed preimage, a double-counted
    * append) diverges the hash. Runs in the reclaimed [[sandboxed]]
    * sandbox.
    */
  def incrementalAggScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(8, col("event_id")),
      dir,
      Seq("event_id", "cents"))
    // the checkpointed view: reads v1 — immutable, so the frame stays
    // valid however the table mutates afterwards
    def viewOf(df: DataFrame): DataFrame = df
      .groupBy(pmod(col("user_id"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    val checkpoint = viewOf(Snapshots.readVersion(spark, dir, 1))
    val updates = base
      .filter(pmod(col("event_id"), lit(7L)) === 0L)
      .withColumn("cents", col("cents") + lit(MergeShift))
    val inserts = base
      .filter(pmod(col("event_id"), lit(11L)) === 0L)
      .withColumn("event_id", col("event_id") + lit(CdfInsertOffset))
    Snapshots.commitMerge(spark, dir, updates.unionByName(inserts), "event_id")
    Snapshots.commitDelete(spark, dir, "cents", 1000L, 4999L)
    Snapshots.commitAppend(
      base.filter(pmod(col("event_id"), lit(3L)) === 2L && pmod(col("event_id"), lit(7L)) =!= 0L),
      dir,
      Seq("event_id", "cents"))
    // fromVersion is exclusive: the feed carries the changes of v2..v4
    // (merge, delete, append) — everything since the v1 checkpoint
    val delta = Snapshots
      .readChangeFeed(spark, dir, 1, 4)
      .withColumn(
        "sign",
        when(col(Snapshots.ChangeTypeCol).isin("insert", "update_postimage"), 1L)
          .otherwise(-1L))
      .groupBy(pmod(col("user_id"), lit(16L)).as("bucket"))
      .agg(sum(col("sign")).as("d_n"), sum(col("sign") * col("cents")).as("d_cents"))
    val incremental = checkpoint
      .join(delta, Seq("bucket"), "full")
      .select(
        col("bucket"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_events"),
        (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("d_cents"), lit(0L))).as("sum_cents"))
    val direct = viewOf(Snapshots.readLatest(spark, dir))
    direct
      .select(lit("direct").as("method"), col("bucket"), col("n_events"), col("sum_cents"))
      .unionByName(incremental
        .select(lit("incremental").as("method"), col("bucket"), col("n_events"), col("sum_cents")))
      .transform(orderedOutput(_, col("method"), col("bucket")))
  }

  /** x15: commit-time CHECK constraints ([[graft.sources.Snapshots
    * .commitAppendChecked]]) — the Delta-constraints/expectations shape:
    * a table declares invariants and the COMMIT enforces them, so
    * downstream readers never re-validate. v1 lands the honest half
    * (even event_ids) through the checked path; a poisoned batch (odd
    * rows, %5 keys shifted past [[MergeShift]]) is then profiled
    * ([[graft.sources.Snapshots.constraintViolations]] — all constraints
    * counted in ONE aggregate pass) and its checked commit must REFUSE,
    * leaving the table exactly at v1. The gate emits the violation
    * profile, the refusal flag, and the final table aggregates; the
    * oracle derives all three from the base table (the refusal flag as
    * CASE WHEN violations > 0 — the oracle never assumes the refusal, it
    * derives it). Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def checkedCommitScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    val cons = Seq(
      "cents_nonneg" -> (col("cents") >= 0L),
      "cents_sane" -> (col("cents") < MergeShift),
      "user_present" -> col("user_id").isNotNull)
    Snapshots.commitAppendChecked(
      base.filter(pmod(col("event_id"), lit(2L)) === 0L), dir, cons)
    val poisoned = base
      .filter(pmod(col("event_id"), lit(2L)) === 1L)
      .withColumn(
        "cents",
        when(pmod(col("event_id"), lit(5L)) === 0L, col("cents") + lit(MergeShift))
          .otherwise(col("cents")))
    val profile = Snapshots.constraintViolations(poisoned, cons)
    val refused =
      try { Snapshots.commitAppendChecked(poisoned, dir, cons); 0L }
      catch { case _: IllegalArgumentException => 1L }
    val table = Snapshots
      .readLatest(spark, dir)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    profile
      .select(col("constraint").as("row_key"), col("n_violations").as("metric"))
      .unionByName(spark.range(1)
        .select(lit("commit_refused").as("row_key"), lit(refused).as("metric")))
      .unionByName(table.select(lit("table_rows").as("row_key"), col("n").as("metric")))
      .unionByName(table.select(lit("table_sum_cents").as("row_key"), col("s").as("metric")))
      .transform(orderedOutput(_, col("row_key")))
  }

  /** x16: NAMED REFS (tags) as retention roots ([[graft.sources
    * .Snapshots.tag]]) — the reproducibility handle: v1 (thirds ≡ 0) is
    * overwritten, v2 appends thirds ≡ 1, the tag `training` pins v2,
    * v3 overwrites to thirds ≡ 2, and a vacuum down to keepFrom=3 runs.
    * The gate reads the TAG and the LATEST after the vacuum: the tagged
    * snapshot must still read bit-identically (the tag pinned its
    * manifest and files below the retention line) while latest shows
    * only v3's rows. A vacuum that ignored tags would delete v2's
    * manifest and the read would throw; one that under-deleted shows up
    * in x7's coverage. Write-once races, drop-then-reclaim, and CRC
    * tamper refusal are pinned by SnapshotsSpec. Runs in the reclaimed
    * [[sandboxed]] sandbox.
    */
  def snapshotTagsScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 0L), dir)
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 1L), dir)
    Snapshots.tag(spark, dir, "training", 2)
    Snapshots.commitOverwrite(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir)
    Snapshots.vacuum(spark, dir, keepFrom = 3)
    def aggOf(df: DataFrame, ref: String): DataFrame = df
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(ref).as("ref"), col("n_events"), col("n_users"), col("sum_cents"))
    aggOf(Snapshots.readTag(spark, dir, "training"), "training")
      .unionByName(aggOf(Snapshots.readLatest(spark, dir), "latest"))
      .transform(orderedOutput(_, col("ref")))
  }

  /** x18: METADATA-ONLY aggregation ([[graft.sources.Snapshots
    * .metadataRowCount]] / [[graft.sources.Snapshots.metadataRangeCount]])
    * — the Iceberg/Delta metadata-query shape: every manifest carries
    * per-file ROW COUNTS (from the zone-map aggregate or the parquet
    * footer — never a data scan), so COUNT(*) at any version is one
    * manifest read, exact MIN/MAX of a zone-mapped column is a fold over
    * the per-file bounds, and a range COUNT splits into
    * contained-files-from-metadata + a residual scan of only the
    * boundary files. At 100 TB that turns "how many rows landed
    * yesterday" from a table scan into a metadata lookup. The lifecycle:
    * v1 range-clusters thirds 0+1 on cents (tight zone maps), v2 appends
    * third 2, v3 DELETEs a cents range — and every count the gate emits
    * comes from the metadata path, so a stale per-file count (e.g. a
    * delete that rewrote rows but carried the old count) diverges the
    * hash. The zero-data-read contract itself is pinned by SnapshotsSpec
    * (the count survives physical removal of the data files). Runs in
    * the reclaimed [[sandboxed]] sandbox.
    */
  def metadataAggScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(8, col("cents")),
      dir,
      Seq("cents"))
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), dir, Seq("cents"))
    Snapshots.commitDelete(spark, dir, "cents", 1000L, 4999L)
    val totalV1 = Snapshots.metadataRowCount(spark, dir, 1)
    val totalV2 = Snapshots.metadataRowCount(spark, dir, 2)
    val totalV3 = Snapshots.metadataRowCount(spark, dir, 3)
    val inRange = Snapshots.metadataRangeCount(spark, dir, 2, "cents", 5000L, 99999L).count
    val (mn, mx) = Snapshots.metadataMinMax(spark, dir, 3, "cents")
    spark
      .createDataFrame(Seq(
        ("total_v1", totalV1),
        ("total_v2", totalV2),
        ("total_v3", totalV3),
        ("rows_in_range_v2", inRange),
        ("min_cents_v3", mn),
        ("max_cents_v3", mx)))
      .toDF("metric", "value")
      .transform(orderedOutput(_, col("metric")))
  }

  /** x19: SHALLOW CLONE ([[graft.sources.Snapshots.cloneTable]]) — the
    * zero-copy branch: the clone's v1 manifest references the SOURCE
    * version's data files (no bytes move, instant at any table size),
    * after which the two tables are fully independent — a COW delete on
    * the clone rewrites its view of the shared files into CLONE-local
    * storage (the source's copy untouched), and a later source append
    * never shows up in the clone. The gate reads THREE surfaces after
    * both sides mutate: the source's latest (must still contain the
    * cents range the clone deleted, plus its own appended rows), the
    * clone's latest (the delete applied, the source append absent), and
    * the clone's v1 (the frozen source snapshot, bit-stable through
    * everything). Any isolation leak — the clone's delete damaging a
    * shared file, the source append bleeding into the clone — diverges a
    * row. Runs in the reclaimed [[sandboxed]] sandbox.
    */
  def shallowCloneScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    val src = s"$dir/src"
    val dst = s"$dir/clone"
    Snapshots.commitOverwrite(
      base.filter(pmod(col("event_id"), lit(3L)) =!= 2L).repartitionByRange(8, col("cents")),
      src,
      Seq("cents"))
    Snapshots.commitAppend(base.filter(pmod(col("event_id"), lit(3L)) === 2L), src, Seq("cents"))
    Snapshots.cloneTable(spark, src, 2, dst)
    Snapshots.commitDelete(spark, dst, "cents", 1000L, 4999L)
    Snapshots.commitAppend(
      base
        .filter(pmod(col("event_id"), lit(11L)) === 0L)
        .withColumn("event_id", col("event_id") + lit(CdfInsertOffset)),
      src,
      Seq("cents"))
    def aggOf(df: DataFrame, ref: String): DataFrame = df
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(ref).as("ref"), col("n_events"), col("n_users"), col("sum_cents"))
    aggOf(Snapshots.readLatest(spark, src), "src_latest")
      .unionByName(aggOf(Snapshots.readLatest(spark, dst), "clone_latest"))
      .unionByName(aggOf(Snapshots.readVersion(spark, dst, 1), "clone_v1"))
      .transform(orderedOutput(_, col("ref")))
  }

  /** x20: COPY INTO — file-level idempotent ingest ([[graft.sources
    * .Snapshots.copyInto]]), the landing-zone loop: producers drop
    * parquet files, the ingest job re-runs blindly, each file lands in
    * the table EXACTLY ONCE (the Delta COPY INTO / Auto Loader shape).
    * Ingest is zero-copy (staged files become table data by reference,
    * zone maps + row counts computed at ingest) and the ingested-file
    * set rides the commit's own manifest header, so recording is atomic
    * with publication — no crash window can double-count or lose a
    * file. The lifecycle: thirds 0+1 land as 4 files (→ v1), the SAME
    * ingest re-runs (→ no-op, no version), third 2 lands as 2 more
    * files beside them (→ v2 ingests only the new ones). The gate reads
    * v1 and latest; a re-ingested file or a missed one diverges a row.
    * Rerun/no-op and race behavior are spec-pinned. Runs in the
    * reclaimed [[sandboxed]] sandbox.
    */
  def copyIntoScan(spark: SparkSession, sfDir: String): DataFrame = sandboxed(spark) { dir =>
    import graft.sources.Snapshots
    val base = snapBase(spark, sfDir)
    val table = s"$dir/table"
    val landing = s"$dir/landing"
    base
      .filter(pmod(col("event_id"), lit(3L)) =!= 2L)
      .repartition(4)
      .write.mode("overwrite").parquet(landing)
    Snapshots.copyInto(spark, table, landing)
    Snapshots.copyInto(spark, table, landing) // rerun: must be a no-op
    base
      .filter(pmod(col("event_id"), lit(3L)) === 2L)
      .repartition(2)
      .write.mode("append").parquet(landing)
    Snapshots.copyInto(spark, table, landing) // only the 2 new files
    def aggOf(df: DataFrame, ref: String): DataFrame = df
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(lit(ref).as("ref"), col("n_events"), col("n_users"), col("sum_cents"))
    aggOf(Snapshots.readVersion(spark, table, 1), "v1")
      .unionByName(aggOf(Snapshots.readLatest(spark, table), "latest"))
      .transform(orderedOutput(_, col("ref")))
  }

  /** j12: SCD2 dimension MAINTENANCE — the apply-changes half of the
    * type-2 dimension lifecycle (w18 builds history, j10 reads it; this
    * is the nightly job that MUTATES it): the dimension holds each
    * user's state intervals as of [[SnapT1Us]] (run-collapsed
    * non-purchase states, exactly one open row per user), and the
    * changes batch is each user's FIRST state observation at or after
    * the cutoff. Type-2 semantics per user: a changed state CLOSES the
    * open interval at the change time and opens a new current row; an
    * unchanged state is a no-op (the SCD2 idempotence convention — no
    * spurious version churn); a user with no history inserts their
    * first open row. Closed history rows pass through untouched. One
    * window pass per side plus ONE keyed full-outer join of two
    * per-user single-row frames — never a rescan of the dimension's
    * closed history.
    */
  def scd2Apply(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ord_us"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val runs = ev
      .filter(col("ord_us") < SnapT1Us)
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(
        col("user_id"),
        col("event_type").as("state"),
        col("ord_us").as("valid_from_us"),
        col("event_id"))
    val wRun = Window
      .partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    val dim = runs
      .withColumn(
        "valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(wRun), lit(-1L)))
      .drop("event_id")
    val changes = ev
      .filter(col("ord_us") >= SnapT1Us)
      .withColumn("rk", row_number().over(wOrd))
      .filter(col("rk") === 1)
      .select(
        col("user_id"),
        col("event_type").as("new_state"),
        col("ord_us").as("chg_us"))
    val open = dim.filter(col("valid_to_us") === -1L)
    val closedHist = dim.filter(col("valid_to_us") =!= -1L)
    val j = open.join(changes, Seq("user_id"), "full_outer")
    val keptOpen = j
      .filter(col("state").isNotNull &&
        (col("new_state").isNull || col("new_state") === col("state")))
      .select(col("user_id"), col("state"), col("valid_from_us"), lit(-1L).as("valid_to_us"))
    val closedNow = j
      .filter(col("state").isNotNull && col("new_state").isNotNull &&
        col("new_state") =!= col("state"))
      .select(col("user_id"), col("state"), col("valid_from_us"),
        col("chg_us").as("valid_to_us"))
    val opened = j
      .filter(col("new_state").isNotNull &&
        (col("state").isNull || col("new_state") =!= col("state")))
      .select(col("user_id"), col("new_state").as("state"),
        col("chg_us").as("valid_from_us"), lit(-1L).as("valid_to_us"))
    closedHist
      .unionByName(keptOpen)
      .unionByName(closedNow)
      .unionByName(opened)
      .withColumn("is_current", when(col("valid_to_us") === -1L, 1L).otherwise(0L))
      .transform(orderedOutput(_, col("user_id"), col("valid_from_us"), col("state")))
  }

  /** q16: user journey paths — each user's first 10 event types joined
    * into an ordered path string (the funnel-exploration shape product
    * analytics runs). Order is the (ord_us, event_id) total order; the
    * path assembles from an array_sort over (rank, type) structs so the
    * aggregation is partitioning-independent — collect_list alone is
    * not. The journey prefix is capped (10) so no whale user builds an
    * unbounded string.
    */
  private val JourneyCap = 10

  def userJourney(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    prepared(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ord_us"), col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") <= JourneyCap)
      .groupBy(col("user_id"))
      .agg(
        max(col("n_events")).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("rn"), col("event_type")))),
            _.getField("event_type")),
          ">").as("journey"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** j10: SCD2 dimension lookup — the warehouse's most common join:
    * facts (purchases) resolved against a slowly-changing dimension (the
    * user's state = last non-purchase event type, run-collapsed to
    * change points) at the fact's OWN event time. Composition of w18's
    * run collapse and j3's as-of machinery ([[graft.operators.AsOfJoin]]
    * — one union + one window pass, zero joins); simultaneous state
    * changes dedupe to the highest event_id so the match is a total
    * order, not a race. Gated against DuckDB's native ASOF LEFT JOIN.
    */
  def scd2Lookup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ord_us"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val wDup = Window
      .partitionBy(col("user_id"), col("state_from_us"))
      .orderBy(col("event_id").desc)
    val runStarts = ev
      .filter(col("event_type") =!= "purchase")
      .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(
        col("user_id"),
        col("ord_us").as("state_from_us"),
        col("event_type").as("state"),
        col("event_id"))
      .withColumn("dup_rk", row_number().over(wDup))
      .filter(col("dup_rk") === 1)
      .select("user_id", "state_from_us", "state")
    val facts = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ord_us"))
    graft.operators.AsOfJoin
      .asof(facts, runStarts, "user_id", "ord_us", "state_from_us", Seq("state"))
      .select(
        col("event_id"),
        col("user_id"),
        col("ord_us"),
        col("asof_ts").as("state_from_us"),
        col("state"),
        (col("ord_us") - col("asof_ts")).as("state_age_us"))
      .transform(orderedOutput(_, col("event_id")))
  }

  /** w26: consecutive-day activity streaks — the day-granularity
    * gaps-and-islands (login streaks, retention heuristics): per user,
    * distinct active days, islands where day − row_number is constant,
    * rolled up to streak count / longest / total active days. One
    * user-keyed exchange; the window and the rollup share it.
    */
  def dayStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    prepared(spark, sfDir)
      .select(col("user_id"), expr(s"ord_us div $DayUs").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start_day"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        min(col("streak_start_day")).as("first_day"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** q17: incremental rollup merge — materialized-view maintenance: the
    * standing per-user rollup (events before the cutoff) merged with the
    * new batch's rollup by RE-AGGREGATING THE PARTIALS (sums add, counts
    * add, mins/maxes fold), never re-reading the standing side's raw
    * events. The oracle is the full recompute over raw data, so the gate
    * proves merge(partial_old, partial_new) ≡ recompute — the algebraic
    * property incremental pipelines stand on. At 100 TB the merge input
    * is two rollup tables (|users| rows each), not the corpus.
    */
  private val Q17CutoffUs = 1705795200000000L // 2024-01-21T00:00:00Z

  def rollupMerge(spark: SparkSession, sfDir: String): DataFrame = {
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
    val standing = rollup(
      Tables.eventsInRange(spark, sfDir, 0L, Q17CutoffUs)
        .withColumn("cents", round(col("value") * 100).cast("long")))
    val increment = rollup(
      Tables.eventsInRange(spark, sfDir, Q17CutoffUs, Long.MaxValue)
        .withColumn("cents", round(col("value") * 100).cast("long")))
    standing
      .unionByName(increment)
      .groupBy(col("user_id"))
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** a15: two-sample A/B comparison (purchase vs click spend) — Welch's
    * t from EXACT integer power sums (n, Σx, Σx² per arm, one hash agg);
    * the means/variances/t-statistic are derived doubles computed by the
    * identical formula in both engines, so even the float tail of the
    * statistic is bit-pinned. The experiment-analysis shape: one pass,
    * map-side combinable, O(1) output.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val arms = prepared(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))
    val a = arms.filter(col("event_type") === "purchase").select(
      col("n").as("n_a"), col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = arms.filter(col("event_type") === "click").select(
      col("n").as("n_b"), col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    a.crossJoin(b)
      .withColumn("mean_a", col("sx_a") / col("n_a"))
      .withColumn("mean_b", col("sx_b") / col("n_b"))
      .withColumn(
        "var_a",
        (col("sxx_a") - col("sx_a") * col("sx_a") / col("n_a")) / (col("n_a") - 1))
      .withColumn(
        "var_b",
        (col("sxx_b") - col("sx_b") * col("sx_b") / col("n_b")) / (col("n_b") - 1))
      .withColumn(
        "t_stat",
        (col("mean_a") - col("mean_b"))
          / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
  }

  /** a9: per-user spend trend — the OLS slope of cents against
    * hours-since-corpus-start from the exact integer power sums (n, Σx,
    * Σy, Σxy, Σx²), a5's machinery applied per entity: slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), numerator and denominator
    * exported exactly and the one double division done identically in
    * both engines. Anchoring x at the BROADCAST corpus minimum keeps
    * x ≤ span-in-hours (≈ 750 here), so every product fits a long with
    * ~1e6 headroom per user-row count; a denominator of 0 (all of a
    * user's events inside one hour) yields NULL in both engines. One
    * hash aggregation, map-side combinable.
    */
  def userTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    val bounds = ev.agg(min(col("ord_us")).as("lo"))
    ev.crossJoin(broadcast(bounds))
      .select(
        col("user_id"),
        expr("(ord_us - lo) div 3600000000").as("x"),
        col("cents").as("y"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn(
        "slope_cph",
        when(
          col("slope_den") > 0,
          col("slope_num").cast("double") / col("slope_den").cast("double")))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** k4: KMV sketch set operations — the property that makes KMV (k1) a
    * SYSTEM, not a statistic: two groups' sketches merge WITHOUT
    * re-touching the raw data (union sketch = k smallest of the combined
    * hash sets), |A∪B| is estimated from the merged kth hash, and |A∩B|
    * via the Jaccard ratio k_common/k of the merged sketch — the
    * mergeability contract every distributed sketch store (per-shard
    * sketches rolled up to tenant/global) relies on. All estimates are
    * md5-deterministic integers gated bit-for-bit next to the exact
    * union/intersection counts. Scale posture: the ONE heavy pass is the
    * distinct over (group, user); the per-type rank keeps ≤ k rows per
    * group, and everything pairwise happens on ≤ |groups|·k rows. The
    * kept/distinct subtree is referenced twice (hash side, exact side) —
    * Spark's ReuseExchange dedups the underlying shuffle, so the corpus
    * is scanned once per exchange, not once per reference.
    */
  def kmvSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val du = Tables
      .events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
      .distinct()
      .withColumn("hv", Sketches.hash32("kmv", col("user_id")))
    val types = du.select(col("event_type")).distinct()
    val pairs = types
      .select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("hv"))
    val kept = du
      .withColumn("r", row_number().over(wT))
      .filter(col("r") <= KmvK)
      .select(col("event_type"), col("hv"))
    def sides(frame: DataFrame, valueCol: String): DataFrame = {
      val a = pairs
        .join(frame.withColumnRenamed("event_type", "type_a"), Seq("type_a"))
        .select(col("type_a"), col("type_b"), col(valueCol), lit(1L).as("in_a"), lit(0L).as("in_b"))
      val b = pairs
        .join(frame.withColumnRenamed("event_type", "type_b"), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col(valueCol), lit(0L).as("in_a"), lit(1L).as("in_b"))
      a.unionAll(b)
        .groupBy(col("type_a"), col("type_b"), col(valueCol))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    }
    val wP = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("hv"))
    val scale = (KmvK - 1).toLong * 4294967296L
    val sk = sides(kept, "hv")
      .withColumn("r", row_number().over(wP))
      .filter(col("r") <= KmvK)
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        count(lit(1)).as("m_union"),
        max(col("hv")).as("hk_union"),
        sum(col("in_a") * col("in_b")).as("k_common"))
      .withColumn(
        "est_union",
        when(col("m_union") < KmvK, col("m_union")).otherwise(expr(s"$scale div hk_union")))
      .withColumn("est_inter", expr("(k_common * est_union) div m_union"))
    val exact = sides(du.select(col("event_type"), col("user_id")), "user_id")
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        count(lit(1)).as("exact_union"),
        sum(col("in_a") * col("in_b")).as("exact_inter"))
    sk.join(exact, Seq("type_a", "type_b"))
      .select(
        col("type_a"),
        col("type_b"),
        col("m_union"),
        col("hk_union"),
        col("k_common"),
        col("est_union"),
        col("est_inter"),
        col("exact_union"),
        col("exact_inter"))
      .transform(orderedOutput(_, col("type_a"), col("type_b")))
  }

  /** k5: HyperLogLog distinct count (Flajolet, Fusy, Gandouet, Meunier
    * 2007, "HyperLogLog: the analysis of a near-optimal cardinality
    * estimation algorithm") — per-day distinct users from m=64 fixed-size
    * registers instead of KMV's k-row sketch (k1): the top [[HllB]] hash
    * bits pick a register, the leading-zero rank of the remaining
    * [[HllFieldBits]] bits updates it via MAX (the one aggregation — a
    * 64-row-per-group hash agg no matter how many billions of rows feed
    * it, and register MAX is commutative so map-side combine does almost
    * all the work). The estimate is kept EXACT-integer: the harmonic-mean
    * denominator Σ 2^-M[j] is scaled by 2^27 so it sums in longs
    * (unseen registers contribute 2^27 each), and the α·m² numerator is
    * the literal 709·m²·2^27 / 1000·S floor division — bit-identical in
    * both engines, no libm. Rank from bit-length: ρ = 27 − len(bin(w))
    * for w ≥ 1 (Spark `bin` and DuckDB `bin` both render minimal binary
    * strings), w = 0 → 27. Production would add the small/large-range
    * corrections; the raw estimator is gated next to the exact count, and
    * v_zero (the linear-counting input) is exported so a consumer can
    * apply them.
    */
  private val HllB = 6
  private val HllM = 64L
  private val HllFieldBits = 26

  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val fieldMod = 1L << HllFieldBits // 67108864
    val scale = 1L << (HllFieldBits + 1) // 134217728 = 2^27
    val ev = Tables
      .events(spark, sfDir)
      .select(expr("ord_us div 86400000000").as("day"), col("user_id"))
    val regs = ev
      .withColumn("hv", Sketches.hash32("hll", col("user_id")))
      .withColumn("j", expr(s"hv div $fieldMod"))
      .withColumn("w", expr(s"hv % $fieldMod"))
      .withColumn(
        "rho",
        when(col("w") === 0L, lit(HllFieldBits + 1))
          .otherwise(lit(HllFieldBits + 1) - length(bin(col("w")))))
      .groupBy(col("day"), col("j"))
      .agg(max(col("rho")).cast("long").as("m_j"))
    val exact = ev.groupBy(col("day")).agg(countDistinct(col("user_id")).as("exact_nd"))
    regs
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("m_seen"),
        sum(expr(s"cast(shiftleft(1, ${HllFieldBits + 1} - m_j) as bigint)")).as("s_seen"))
      .withColumn("v_zero", lit(HllM) - col("m_seen"))
      .withColumn("s_scaled", col("s_seen") + col("v_zero") * scale)
      .withColumn(
        "est_hll",
        expr(s"(cast(709 as bigint) * $HllM * $HllM * $scale) div (1000 * s_scaled)"))
      .join(exact, Seq("day"))
      .select("day", "m_seen", "v_zero", "s_scaled", "est_hll", "exact_nd")
      .transform(orderedOutput(_, col("day")))
  }

  /** w22: first-order Markov transition matrix over per-user event-type
    * sequences — the behavioral-sequence primitive behind next-action
    * prediction and session modeling. One user-keyed window (lead) turns
    * the event log into (from_type, to_type) bigrams; counts aggregate in
    * one shuffle, and the per-from row total comes from a window over the
    * TINY |types|² matrix, not a second pass over the corpus. The
    * transition probability is the one double division, identical in both
    * engines; counts and totals are exact longs.
    */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord_us"), col("event_id"))
    val cells = Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ord_us"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val wf = Window.partitionBy(col("from_type"))
    cells
      .withColumn("row_total", sum(col("n_trans")).over(wf))
      .withColumn("p", col("n_trans").cast("double") / col("row_total").cast("double"))
      .select("from_type", "to_type", "n_trans", "row_total", "p")
      .transform(orderedOutput(_, col("from_type"), col("to_type")))
  }

  /** a10: chi-square independence cells for event_type × day-of-week —
    * the categorical-drift / association test behind feature-vs-label
    * dependence checks. The contingency table is ONE corpus hash-agg
    * (map-side combinable); row totals, column totals, and the grand
    * total come from windows over the ≤ |types|·7 cell frame, never a
    * second corpus pass. Observed counts and marginals are exact longs;
    * the expected value rt·ct/n and the cell's (o−e)²/e contribution are
    * per-row double divisions, formula-identical in both engines — the
    * chi² STATISTIC (a float sum over cells) is deliberately left to the
    * caller, because summing doubles is order-dependent and the cell
    * frame is tiny.
    */
  def chiSquareCells(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables
      .events(spark, sfDir)
      .select(col("event_type"), expr("(ord_us div 86400000000) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val wr = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("dow"))
    val wn = Window.partitionBy()
    cells
      .withColumn("rt", sum(col("o")).over(wr))
      .withColumn("ct", sum(col("o")).over(wc))
      .withColumn("n", sum(col("o")).over(wn))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n").cast("double"))
      .withColumn(
        "contrib",
        (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e")) / col("e"))
      .select("event_type", "dow", "o", "rt", "ct", "n", "e", "contrib")
      .transform(orderedOutput(_, col("event_type"), col("dow")))
  }

  /** w23: rolling z-score anomaly flags with ZERO floats — per event, the
    * trailing-20-row power sums (n, Σx, Σx²) over the user's prior
    * events feed the EXACT integer inequality (n·x − S)² > 4·(n·Q − S²),
    * which is (x − μ)² > (2σ)² cross-multiplied by n² — the classic
    * outlier gate with no division and no libm, so the flag is bit-exact
    * under any partitioning. Overflow headroom: n ≤ 20, cents ≤ ~5·10⁴ →
    * n·Q ≤ 10¹², (n·x − S)² ≤ 4·10¹² — comfortably long. Events with
    * fewer than [[AnomalyMinPrev]] predecessors emit NULL (cold start),
    * mirrored in the oracle. One user-keyed window, no joins.
    */
  private val AnomalyWin = 20
  private val AnomalyMinPrev = 5

  def anomalyFlags(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ord_us"), col("event_id"))
      .rowsBetween(-AnomalyWin, -1)
    prepared(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ord_us"), col("cents"))
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("s_prev", coalesce(sum(col("cents")).over(w), lit(0L)))
      .withColumn("q_prev", coalesce(sum(col("cents") * col("cents")).over(w), lit(0L)))
      .withColumn(
        "is_anomaly",
        when(
          col("n_prev") >= AnomalyMinPrev,
          ((col("n_prev") * col("cents") - col("s_prev")) *
            (col("n_prev") * col("cents") - col("s_prev")) >
            lit(4L) * (col("n_prev") * col("q_prev") - col("s_prev") * col("s_prev")))
            .cast("int")))
      .select("event_id", "user_id", "cents", "n_prev", "s_prev", "q_prev", "is_anomaly")
      .transform(orderedOutput(_, col("event_id")))
  }

  /** a11: lag-k autocorrelation of the daily total-spend series — the
    * seasonality probe a feature pipeline runs before building calendar
    * features. The series is the (tiny) daily rollup, so the global-order
    * lag window touches #days rows, never raw events; all Pearson power
    * sums are exact integers (a5/a9 discipline), with one double
    * division+sqrt at the end under a formula shared verbatim with the
    * oracle.
    */
  private val AutocorrLags = Seq(1, 7)

  def spendAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = prepared(spark, sfDir)
      .groupBy(expr("ord_us div 86400000000").as("day"))
      .agg(sum(col("cents")).as("y"))
    val w = Window.orderBy(col("day"))
    val perLag = AutocorrLags.map { l =>
      daily
        .withColumn("x", lag(col("y"), l).over(w))
        .filter(col("x").isNotNull)
        .agg(
          lit(l).as("lag"),
          count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
    }
    perLag
      .reduce(_.unionAll(_))
      .withColumn(
        "autocorr",
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(
            (col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")))
      .transform(orderedOutput(_, col("lag")))
  }

  /** a12: per-user modal event type (most frequent; ties broken by the
    * lexicographically smallest type — row_number, never an arbitrary
    * max_by survivor). One hash agg + one window over the per-(user, type)
    * count frame, which is bounded by users × |type| regardless of event
    * volume.
    */
  def userMode(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = prepared(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type"))
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n_types", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .withColumn("n_events", sum(col("cnt")).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_type").as("mode_type"),
        col("cnt").as("mode_cnt"),
        col("n_types"),
        col("n_events"))
      .transform(orderedOutput(_, col("user_id")))
  }

  /** z1: Z-order (Morton) layout audit — interleave (user, hour) into the
    * curve key, bucket it as a file id, and report each bucket's row count
    * and min/max extent in BOTH dimensions. The extent table IS the
    * pruning story a lakehouse `ZORDER BY` rewrite buys: a predicate on
    * either dimension skips every bucket whose range misses it. Curve and
    * bucketing are row-local integer bit math ([[graft.operators.ZOrder]]
    * emits the same unrolled expression to both engines); the one hash agg
    * here stands in for write-time range partitioning.
    */
  /** Keeps z-bits ≥12 (x,y bits ≥6): the testdata's hour index varies in
    * its low ~10 bits and users in their low ~11, so this shift yields
    * tens-to-hundreds of buckets across SFs — enough extent rows to SHOW
    * the dual-dimension pruning, not one degenerate file.
    */
  private val ZBucketShift = 12

  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val zx = col("user_id").bitwiseAND(lit(65535L))
    val zy = expr("ord_us div 3600000000").bitwiseAND(lit(65535L))
    prepared(spark, sfDir)
      .select(zx.as("x"), zy.as("y"))
      .withColumn("z", graft.operators.ZOrder.interleaveCol(col("x"), col("y")))
      .groupBy(shiftright(col("z"), ZBucketShift).as("zbucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("x")).as("min_user"),
        max(col("x")).as("max_user"),
        min(col("y")).as("min_hour"),
        max(col("y")).as("max_hour"))
      .transform(orderedOutput(_, col("zbucket")))
  }

  /** a20: Spearman rank correlation between per-user total spend and
    * event count — the robust (monotone, outlier-insensitive) twin of
    * a5's Pearson, and the standard feature-redundancy screen before
    * model training. Tie handling is the textbook AVERAGE rank, kept
    * exact as DOUBLED ranks: r2 = 2·rank_min + (ties−1)·1 is an integer,
    * so the whole estimator is a5's exact-integer power-sum Pearson over
    * (r2x, r2y) with decimal(38) combine and ONE double division. The
    * ranks come from [[graft.operators.Ranks.doubledRanks]] — a two-pass
    * cumulative over the DISTINCT-value rollups joined back by value —
    * so no single-partition global window ever runs (the round-8 audit's
    * point: `Window.orderBy` with no PARTITION BY moves every row to one
    * executor; the two-pass form's only unpartitioned window is over the
    * ≤ numPartitions per-partition totals).
    */
  def spearmanSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val perUser = prepared(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("x"), count(lit(1)).as("y"))
    def ranksFor(c: String, as: String) = Ranks
      .doubledRanks(perUser.groupBy(col(c)).agg(count(lit(1)).as("cnt")), c, "cnt")
      .select(col(c), col("r2").as(as))
    val ranked = perUser
      .join(ranksFor("x", "rx2"), "x")
      .join(ranksFor("y", "ry2"), "y")
    ranked
      .agg(
        count(lit(1)).as("n"),
        sum(col("rx2")).as("sx"),
        sum(col("ry2")).as("sy"),
        sum(col("rx2") * col("ry2")).as("sxy"),
        sum(col("rx2") * col("rx2")).as("sxx"),
        sum(col("ry2") * col("ry2")).as("syy"))
      .withColumn(
        "rho",
        (col("n").cast(d38) * col("sxy").cast(d38) - col("sx").cast(d38) * col("sy").cast(d38))
          .cast("double") /
          (sqrt((col("n").cast(d38) * col("sxx").cast(d38) - col("sx").cast(d38) * col("sx").cast(d38)).cast("double")) *
            sqrt((col("n").cast(d38) * col("syy").cast(d38) - col("sy").cast(d38) * col("sy").cast(d38)).cast("double"))))
  }

  /** a22: Cramér's V — the [0,1]-normalized effect size of a10's
    * event_type × day-of-week chi-square, the number a data-quality
    * dashboard actually thresholds ("is spend pattern associated with
    * weekday AT ALL?"). a10 gates per-cell contributions because a chi²
    * TOTAL sums doubles order-dependently; here the total IS the gate,
    * so each cell contributes the exact integer
    * ((o·n − rt·ct)² · 10⁴) div (rt·ct) with decimal(38) headroom
    * (DuckDB's HUGEINT twin), floor-divided identically in both engines
    * and summed order-independently. chi² = that sum / (10⁴·n);
    * V = sqrt(chi² / (n·min(r−1, c−1))) — two divisions and one sqrt at
    * export, nothing accumulated in floats. One hash agg over the cell
    * table; output is a single row.
    */
  def cramersV(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val cells = Tables
      .events(spark, sfDir)
      .select(col("event_type"), expr("(ord_us div 86400000000) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val wr = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("dow"))
    val wn = Window.partitionBy()
    cells
      .withColumn("rt", sum(col("o")).over(wr))
      .withColumn("ct", sum(col("o")).over(wc))
      .withColumn("n", sum(col("o")).over(wn))
      .withColumn("r", size(collect_set(col("event_type")).over(wn)).cast("long"))
      .withColumn("c", size(collect_set(col("dow")).over(wn)).cast("long"))
      .withColumn(
        "diffd",
        col("o").cast(d38) * col("n").cast(d38) - col("rt").cast(d38) * col("ct").cast(d38))
      .withColumn("numd", col("diffd") * col("diffd") * lit(10000L).cast(d38))
      .withColumn("dend", col("rt").cast(d38) * col("ct").cast(d38))
      // Exact decimal(38) truncating division (the round-8 audit: `div`
      // on decimals computes exactly but RETURNS LongType, so the decimal
      // headroom covered only the operands). numd ≥ 0 and dend > 0, so
      // subtracting pmod makes the numerator an exact multiple of dend;
      // the decimal divide of an exact multiple yields the integer
      // quotient exactly (≤ 10⁴·n², within decimal(38,6)'s 32 integer
      // digits for any n ≤ 10¹⁴), and quotient AND sum stay decimal(38).
      .withColumn(
        "cell_x1e4",
        ((col("numd") - pmod(col("numd"), col("dend"))) / col("dend")).cast(d38))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("cell_x1e4")).as("chi2_x1e4n_d"))
      // the gate exports BIGINT (DuckDB side casts its HUGEINT sum the
      // same way); the Long bound applies only at this final cast
      .withColumn("chi2_x1e4n", col("chi2_x1e4n_d").cast("long"))
      .withColumn("chi2", col("chi2_x1e4n").cast("double") / 10000.0 / col("n"))
      .withColumn(
        "cramers_v",
        sqrt(col("chi2") / (col("n") * least(col("r") - 1L, col("c") - 1L)).cast("double")))
      .select("n", "r", "c", "chi2_x1e4n", "chi2", "cramers_v")
  }

  /** a21: Mann-Whitney U — the nonparametric two-sample location test
    * (does `purchase` spend stochastically dominate `view` spend?),
    * with the AUC interpretation U/(n1·n2) that makes it the exact
    * ROC-AUC of "amount predicts type". Average-rank ties as doubled
    * integer ranks (a20's trick) over the combined sample, so
    * U₁·2 = ΣR₁·2 − n₁(n₁+1) is exact; the one division is the final
    * AUC export. The rank pass never touches raw rows OR a global window:
    * since every row tied at a value shares one average rank,
    * ΣR₁·2 = Σ_v d1(v)·r2(v) over the DISTINCT-cents rollup, with r2 from
    * [[graft.operators.Ranks.doubledRanks]] (two-pass range-partitioned
    * cumulative — no single-partition WindowExec anywhere in the plan).
    */
  private val MwTypeA = "purchase"
  private val MwTypeB = "view"

  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val g = prepared(spark, sfDir)
      .filter(col("event_type").isin(MwTypeA, MwTypeB))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === MwTypeA, 1L).otherwise(0L)).as("d1"),
        sum(when(col("event_type") === MwTypeB, 1L).otherwise(0L)).as("d2"))
    val ranked = Ranks.doubledRanks(g.withColumn("cnt", col("d1") + col("d2")), "cents", "cnt")
    ranked
      .agg(
        sum(col("d1")).as("n1"),
        sum(col("d2")).as("n2"),
        sum(col("d1") * col("r2")).as("r1_x2"))
      .withColumn("u1_x2", col("r1_x2") - col("n1") * (col("n1") + 1L))
      .withColumn("u2_x2", col("n1") * col("n2") * 2L - col("u1_x2"))
      .withColumn("auc", col("u1_x2").cast("double") / (col("n1") * col("n2") * 2L))
  }

  /** a23: two-sample Kolmogorov-Smirnov statistic — the distribution-
    * equality test completing the a19/a21 drift family (chi² sees bin
    * mass, MWU sees location; KS sees ANY CDF divergence). D = max_x
    * |F₁(x) − F₂(x)| stays exact: with c₁/c₂ the cumulative counts at
    * each distinct value, the numerator |c₁·n₂ − c₂·n₁| is an integer,
    * the max is order-independent, and D divides once at export. The
    * cumulative counts run over the DISTINCT value frame via the
    * [[graft.operators.Ranks]] two-pass scan (range-partitioned local
    * cumsums + per-partition offsets) and the totals are one scalar agg
    * broadcast back — no unpartitioned WindowExec over data anywhere.
    */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    val both = prepared(spark, sfDir)
      .filter(col("event_type").isin(MwTypeA, MwTypeB))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === MwTypeA, 1L).otherwise(0L)).as("d1"),
        sum(when(col("event_type") === MwTypeB, 1L).otherwise(0L)).as("d2"))
    val tot = both.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
    Ranks
      .cumulativeOverDistinct(both, "cents", Seq("d1", "d2"))
      .withColumnRenamed("cum_d1", "c1")
      .withColumnRenamed("cum_d2", "c2")
      .crossJoin(broadcast(tot))
      .withColumn("num", abs(col("c1") * col("n2") - col("c2") * col("n1")))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("num")).as("ks_num"))
      .withColumn("ks_d", col("ks_num").cast("double") / (col("n1") * col("n2")).cast("double"))
      .select("n1", "n2", "ks_num", "ks_d")
  }

  /** w29: week-over-week growth per event type — the period-over-period
    * report every BI layer ships: weekly spend rollup, previous-period
    * lag, exact integer delta, and growth in basis points as the
    * integral division (cur−prev)·10⁴ div prev — no float percentage
    * crosses the gate, and declines stay exact because BOTH engines'
    * integral division truncates toward zero on BIGINT ((−5) div 2 =
    * (−5)//2 = −2, verified). First week per type emits NULL growth.
    * One hash rollup + one lag window sharing the type-keyed exchange.
    */
  def weekOverWeek(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = prepared(spark, sfDir)
      .withColumn("week", expr("ord_us div 604800000000"))
      .groupBy(col("event_type"), col("week"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .withColumn("delta_cents", col("cents") - col("prev_cents"))
      .withColumn("growth_bps", expr("((cents - prev_cents) * 10000) div prev_cents"))
      .select("event_type", "week", "n_events", "cents", "prev_cents", "delta_cents", "growth_bps")
      .transform(orderedOutput(_, col("event_type"), col("week")))
  }

  /** a26: per-user CUSUM change detection — the ONLINE drift monitor
    * (Page 1954) next to the batch two-sample tests (a19/a23/a24):
    * S_t = max(0, S_{t−1} + (x_t − μ₀ − slack)) flags a sustained
    * upward spend shift the moment it accumulates, not at batch close.
    * The sequential recurrence has the closed form
    * S_t = P_t − min(0, min_{i≤t} P_i) over the drift prefix sum
    * P_t = Σ(x_i − μ₀ − slack), so the scan is two window layers
    * (running sum + running min) over ONE (user, time) sort — no
    * per-row iteration, no state machine. Baseline μ₀ is the corpus
    * mean in integer cents (floor), slack = μ₀ div 10, alarm threshold
    * h = 10·μ₀ (a sustained ten-mean excursion) — all derived from a 1-row broadcast agg (the q31
    * shape), no fixture constants. Exact integers end to end; output
    * per user: peak statistic, alarm flag, and the first alarm time.
    */
  def cusumDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = prepared(spark, sfDir).select(
      col("user_id"), col("event_id"), col("ord_us"), col("cents"))
    // div/`//` parity caveat: Spark `div` truncates toward zero, DuckDB
    // `//` floors — identical ONLY on non-negative operands. cents >= 0
    // by construction (round(value*100), value >= 0), so sum/mu0 are
    // non-negative here; a signed-amount corpus would need the floor
    // form (a - pmod(a, b)) / b on the Spark side.
    val base = broadcast(
      ev.agg(expr("sum(cents) div count(1)").as("mu0"))
        .withColumn("slack", expr("mu0 div 10"))
        .withColumn("h", col("mu0") * 10L))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ord_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.crossJoin(base)
      .withColumn("p", sum(col("cents") - col("mu0") - col("slack")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
      .groupBy(col("user_id"), col("h"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("s")).as("max_s"),
        min(when(col("s") > col("h"), col("ord_us"))).as("first_alarm_us"))
      .withColumn("alarmed", when(col("max_s") > col("h"), 1L).otherwise(0L))
      .select("user_id", "n_events", "max_s", "alarmed", "first_alarm_us")
      .transform(orderedOutput(_, col("user_id")))
  }

  /** a27: population drift via exact total-variation distance — the
    * PSI-style binned-histogram drift monitor re-expressed in the repo's
    * exact-integer discipline: PSI's Σ(p−q)·ln(p/q) needs a per-bin
    * transcendental (libm-dependent doubles — unhashable across
    * engines), while TVD = ½·Σ|p_i − q_i| carries the same "how much
    * mass moved between the reference and current windows" signal in
    * exact integers (the t23 pattern: re-express the score so ordering
    * and thresholds survive bit-for-bit). Reference window = the first
    * half of the event timeline, current = the second (midpoint split
    * from a 1-row broadcast agg — the q31 shape); bins = cents div 5000
    * capped at 9 (10 fixed spend bins). Per bin the two counts and
    * |n_ref·T_cur − n_cur·T_ref| (= |p − q| scaled by T_ref·T_cur,
    * exact); globally tvd_scaled = Σ of that and the alarm TVD > 0.1 ⟺
    * 5·tvd_scaled > T_ref·T_cur — integers throughout (headroom: the
    * products stay under 2^63 while T_ref·T_cur < 9.2e18, i.e. up to
    * ~3e9 events per window; past that, lift to decimal(38,0)). All
    * operands non-negative, so `div`/`//` and the comparisons agree.
    * Plan: one corpus pass into a 10-row hash agg plus three 1-row/
    * 10-row broadcast joins — no window, nothing scales with the
    * corpus but the single scan.
    */
  def tvdDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(col("ord_us"), col("cents"))
    val bounds = broadcast(ev.agg(min(col("ord_us")).as("lo"), max(col("ord_us")).as("hi")))
    val bins = ev
      .crossJoin(bounds)
      .withColumn("is_cur", (col("ord_us") * 2L >= col("lo") + col("hi")).cast("long"))
      .withColumn("bin", least(expr("cents div 5000"), lit(9L)))
      .groupBy(col("bin"))
      .agg(
        sum(lit(1L) - col("is_cur")).as("n_ref"),
        sum(col("is_cur")).as("n_cur"))
    val tot = broadcast(bins.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur")))
    val diffs = bins
      .crossJoin(tot)
      .withColumn(
        "diff_scaled",
        abs(col("n_ref") * col("t_cur") - col("n_cur") * col("t_ref")))
    val tvd = broadcast(diffs.agg(sum(col("diff_scaled")).as("tvd_scaled")))
    diffs
      .crossJoin(tvd)
      .withColumn(
        "is_drifted",
        when(col("tvd_scaled") * 5L > col("t_ref") * col("t_cur"), 1L).otherwise(0L))
      .select("bin", "n_ref", "n_cur", "diff_scaled", "t_ref", "t_cur", "tvd_scaled", "is_drifted")
      .transform(orderedOutput(_, col("bin")))
  }

  /** a28: Benford first-digit screen over purchase amounts — the classic
    * forensic-accounting anomaly test for the reference's own domain
    * (fabricated transaction amounts have uniform-ish leading digits;
    * organic ones follow log10(1+1/d)). Where a14 profiles the observed
    * digit shares per type, this gate carries the LAW itself and the
    * verdict: deviation against Benford's expected frequencies and the
    * anomaly flag an auditor acts on. Exactness discipline: the
    * Benford expectations are PPM-scaled integer literals (public
    * constants, they sum to exactly 1,000,000 — no log10 is evaluated in
    * either engine), the observed share is `n_d·10^6 div N` (exact,
    * non-negative), and the deviation/flag are integer compares. The
    * digit is taken from the decimal string (exact in both engines —
    * floor(log10) in doubles is the classic off-by-one trap). Digits
    * with zero observations still emit (left join from the 9-row
    * literal frame), so the output grain is fixed. Plan: one filtered
    * corpus pass into a ≤9-row agg; everything after is broadcast
    * arithmetic.
    */
  /** a30: Wald–Wolfowitz runs test on the daily spend series — the
    * randomness screen next to a11's autocorrelation (a trend or
    * regime-switch shows up as too FEW runs of above/below-median days;
    * over-alternation as too many). Exact integers end to end (the a20
    * discipline): the lower MEDIAN is an exact order statistic (rank
    * (n+1) div 2 — never an interpolated percentile), median-equal days
    * drop (the test's convention), and the 2σ decision is the
    * cross-multiplied inequality diff²·(n−1) > 4·(2·n1·n2)·(2·n1·n2−n)
    * where diff = R·n − n − 2·n1·n2 — z² = 4 exactly, no sqrt, no float
    * division anywhere. Windows run over the |days|-row daily rollup
    * (the a11 whitelist justification), never raw events.
    */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = prepared(spark, sfDir)
      .groupBy(expr("ord_us div 86400000000").as("day"))
      .agg(sum(col("cents")).as("day_cents"))
    val wRank = Window.orderBy(col("day_cents"), col("day"))
    val med = daily
      .withColumn("r", row_number().over(wRank))
      .withColumn(
        "nn",
        count(lit(1)).over(
          wRank.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(expr("r = (nn + 1) div 2"))
      .select(col("day_cents").as("med_cents"))
    val signed = daily
      .crossJoin(broadcast(med))
      .filter(col("day_cents") =!= col("med_cents"))
      .withColumn("sgn", when(col("day_cents") > col("med_cents"), 1L).otherwise(0L))
      .withColumn("prev_sgn", lag(col("sgn"), 1).over(Window.orderBy(col("day"))))
    signed
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("sgn")).as("n_above"),
        (count(lit(1)) - sum(col("sgn"))).as("n_below"),
        (lit(1L) + sum(
          when(col("prev_sgn").isNotNull && col("prev_sgn") =!= col("sgn"), 1L)
            .otherwise(0L))).as("n_runs"))
      .withColumn(
        "diff_num",
        col("n_runs") * col("n_days") - col("n_days") - lit(2L) * col("n_above") * col("n_below"))
      .withColumn(
        "nonrandom_2sigma",
        when(
          col("diff_num") * col("diff_num") * (col("n_days") - 1L) >
            lit(4L) * (lit(2L) * col("n_above") * col("n_below")) *
              (lit(2L) * col("n_above") * col("n_below") - col("n_days")),
          1L).otherwise(0L))
  }

  /** a31: Mann–Kendall trend test (Mann 1945; Kendall's S) over the daily
    * spend series — the nonparametric monotone-trend screen next to a30's
    * randomness screen and a9's parametric slope: S = Σ_{i<j}
    * sign(x_j − x_i), with the tie-corrected variance 18·Var(S) =
    * n(n−1)(2n+5) − Σ t(t−1)(2t+5), and the 2σ verdict as the
    * cross-multiplied continuity-corrected inequality 18·(|S|−1)² >
    * 4·Var18 — integers end to end, no sqrt crosses the gate (the
    * t23/a30 discipline). Scale shape: the pairwise frame is over the
    * DAILY ROLLUP, whose size is bounded by the calendar (≤366 rows at
    * any corpus size), broadcast on one arm — corpus-size-independent by
    * construction, like every a-plane day-series statistic.
    */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = prepared(spark, sfDir)
      .groupBy(expr("ord_us div 86400000000").as("day"))
      .agg(sum(col("cents")).as("day_cents"))
    val s = daily
      .as("a")
      .join(broadcast(daily.as("b")), col("a.day") < col("b.day"))
      .agg(
        sum(
          when(col("b.day_cents") > col("a.day_cents"), 1L)
            .when(col("b.day_cents") < col("a.day_cents"), -1L)
            .otherwise(0L)).as("s_stat"))
    val ties = daily
      .groupBy(col("day_cents"))
      .agg(count(lit(1)).as("t"))
      .agg(coalesce(
        sum(when(col("t") > 1L, col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .otherwise(0L)),
        lit(0L)).as("tie_term"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    n.crossJoin(broadcast(s))
      .crossJoin(broadcast(ties))
      .withColumn(
        "var18",
        col("n_days") * (col("n_days") - 1L) * (lit(2L) * col("n_days") + 5L) - col("tie_term"))
      .withColumn(
        "trend_2sigma",
        when(
          lit(18L) * when(abs(col("s_stat")) >= 1L,
            (abs(col("s_stat")) - 1L) * (abs(col("s_stat")) - 1L)).otherwise(0L)
            > lit(4L) * col("var18"),
          1L).otherwise(0L))
      .select("n_days", "s_stat", "var18", "tie_term", "trend_2sigma")
  }

  def benfordScreen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val benford = Seq(
      (1L, 301030L), (2L, 176091L), (3L, 124939L), (4L, 96910L), (5L, 79181L),
      (6L, 66947L), (7L, 57992L), (8L, 51153L), (9L, 45757L))
      .toDF("digit", "benford_ppm")
    val obs = prepared(spark, sfDir)
      .filter(col("event_type") === MwTypeA && col("cents") >= 1L)
      .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("long"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val tot = broadcast(obs.agg(sum(col("n_obs")).as("n_total")))
    broadcast(benford)
      .join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(tot)
      .withColumn("obs_ppm", expr("n_obs * 1000000 div n_total"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
      .withColumn("is_anomalous", when(col("dev_ppm") > 20000L, 1L).otherwise(0L))
      .select(
        "digit", "n_obs", "n_total", "obs_ppm", "benford_ppm", "dev_ppm", "is_anomalous")
      .transform(orderedOutput(_, col("digit")))
  }

  /** a29: quantile binning with the FIT/TRANSFORM split — a13's binning
    * is descriptive (per-type quartiles over the whole stream); this is
    * the sklearn-discipline form a TRAINING pipeline needs: the quartile
    * cut points derive from TRAIN rows only (holdout never influences
    * its own binning — the leakage j11/s14 guard against, applied to a
    * transform), then broadcast onto every event. Cut points are the
    * exact inverse-CDF values — smallest v with 4·cdf(v) ≥ k·n over the
    * train distinct-value frame via [[Ranks.cumulativeOverDistinct]]
    * (the a23/a24 two-pass scan: no single-partition window anywhere,
    * where a13's per-type ranks are naturally keyed) — so there is no
    * interpolation and no float quantile definition to disagree on.
    * Output: per-bin train/holdout populations and extents with the
    * fitted cuts as audit columns. Plan: one train rollup + two-pass
    * scan + 1-row broadcast cuts + one corpus pass into a 4-row agg.
    */
  def quantileBinningTrainFit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
      .select(col("event_id"), col("cents"))
      .withColumn("is_train", (pmod(col("event_id"), lit(5L)) =!= 0L).cast("long"))
    val trainVals = ev
      .filter(col("is_train") === 1L)
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("c"))
    val cum = Ranks.cumulativeOverDistinct(trainVals, "cents", Seq("c"))
    val n = broadcast(ev.filter(col("is_train") === 1L).agg(count(lit(1)).as("n")))
    val cuts = broadcast(
      cum
        .crossJoin(n)
        .agg(
          min(when(col("cum_c") * 4L >= col("n"), col("cents"))).as("q1"),
          min(when(col("cum_c") * 4L >= col("n") * 2L, col("cents"))).as("q2"),
          min(when(col("cum_c") * 4L >= col("n") * 3L, col("cents"))).as("q3")))
    ev.crossJoin(cuts)
      .withColumn(
        "bin",
        (col("cents") > col("q1")).cast("long")
          + (col("cents") > col("q2")).cast("long")
          + (col("cents") > col("q3")).cast("long"))
      .groupBy(col("bin"))
      .agg(
        sum(col("is_train")).as("n_train"),
        sum(lit(1L) - col("is_train")).as("n_holdout"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents")).as("sum_cents"))
      .crossJoin(cuts)
      .select(
        "bin", "n_train", "n_holdout", "min_cents", "max_cents", "sum_cents",
        "q1", "q2", "q3")
      .transform(orderedOutput(_, col("bin")))
  }

  /** f15: SMOOTHED target encoding with the fit/apply split — f13's
    * leave-one-out form encodes within one dataset; this is the other
    * standard variant (CatBoost/category-encoders "target encoding with
    * additive smoothing"): the encoding derives exclusively from TRAIN
    * rows, shrunk toward the global train rate by [[TePrior]]
    * pseudo-counts (the thin-category guard LOO lacks), and applies to
    * holdout as a broadcast lookup — the split that keeps holdout labels
    * out of their own features. Exactness: the smoothed rate
    * (n_pos + m·p_glob)/(n + m) is carried as the exact integer rational
    * enc_num = n_pos·n_glob + m·pos_glob over
    * enc_den = (n_train + m)·n_glob, with the ONE double division at
    * export. Plan: one corpus pass into a |categories|-row agg + a 1-row
    * broadcast global.
    */
  private val TePrior = 100L

  def targetEncodingSmoothed(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir).select(
      col("event_id"),
      col("event_type"),
      when(col("cents") >= 15000L, 1L).otherwise(0L).as("label"),
      (pmod(col("event_id"), lit(5L)) =!= 0L).cast("long").as("is_train"))
    val glob = broadcast(
      ev.filter(col("is_train") === 1L)
        .agg(count(lit(1)).as("n_glob"), sum(col("label")).as("pos_glob")))
    ev.groupBy(col("event_type"))
      .agg(
        sum(col("is_train")).as("n_train"),
        sum(col("is_train") * col("label")).as("n_pos"),
        sum(lit(1L) - col("is_train")).as("n_holdout"))
      .crossJoin(glob)
      .withColumn("enc_num", col("n_pos") * col("n_glob") + lit(TePrior) * col("pos_glob"))
      .withColumn("enc_den", (col("n_train") + lit(TePrior)) * col("n_glob"))
      .withColumn("encoding", col("enc_num").cast("double") / col("enc_den").cast("double"))
      .select(
        "event_type", "n_train", "n_pos", "n_holdout", "n_glob", "pos_glob",
        "enc_num", "enc_den", "encoding")
      .transform(orderedOutput(_, col("event_type")))
  }

  /** a24: 1-D Wasserstein-1 (earth-mover) distance between the purchase
    * and view spend distributions — a23's INTEGRAL twin (KS is the max
    * CDF gap; W₁ = ∫|F₁−F₂|dx is the total transport cost, the drift
    * metric that sees HOW FAR mass moved, not just that it did). Exact:
    * over the sorted distinct-value frame, each segment contributes the
    * integer |c₁·n₂ − c₂·n₁| · (next_value − value); the sum is
    * order-independent and the single division by n₁·n₂ happens at
    * export. Same two-pass plan shape as a23 (the [[Ranks]] scan also
    * carries the cross-partition `lead`: a partition's last row takes the
    * NEXT partition's first value from the broadcast offsets row).
    */
  def wassersteinDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val both = prepared(spark, sfDir)
      .filter(col("event_type").isin(MwTypeA, MwTypeB))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === MwTypeA, 1L).otherwise(0L)).as("d1"),
        sum(when(col("event_type") === MwTypeB, 1L).otherwise(0L)).as("d2"))
    val tot = both.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
    Ranks
      .cumulativeOverDistinct(both, "cents", Seq("d1", "d2"), withNext = true)
      .withColumnRenamed("cum_d1", "c1")
      .withColumnRenamed("cum_d2", "c2")
      .withColumn("gap", col("next_value") - col("cents"))
      .crossJoin(broadcast(tot))
      .filter(col("gap").isNotNull)
      .withColumn("seg", abs(col("c1") * col("n2") - col("c2") * col("n1")) * col("gap"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("seg")).as("w1_num"))
      .withColumn(
        "w1_cents",
        col("w1_num").cast("double") / (col("n1") * col("n2")).cast("double"))
      .select("n1", "n2", "w1_num", "w1_cents")
  }

  /** s12: Poisson bootstrap — [[BootstrapB]] resampled means of purchase
    * spend in ONE corpus pass (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams" — the production-scale
    * bootstrap: each row draws an independent pseudo-Poisson(1) weight
    * per replicate instead of materializing B resamples). Weights come
    * from the inverse CDF on a 32-bit md5 draw with integer thresholds
    * (exact in both engines, capped at 4); all B weighted sums
    * map-combine in one aggregation, then unpivot to a row per
    * replicate. The replicate spread IS the sampling-error estimate a
    * 100 TB A/B pipeline ships.
    */
  private val BootstrapB = 16

  def poissonBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    // P(Poisson(1) <= k) * 2^32 thresholds for k = 0..3
    val t = Seq(1580030168L, 3160060337L, 3950075421L, 4213413782L)
    val ev = prepared(spark, sfDir).filter(col("event_type") === MwTypeA)
    val aggs = (0 until BootstrapB).flatMap { b =>
      val u = Sketches.hash32(s"boot$b", col("event_id"))
      val w = when(u < t(0), 0L)
        .when(u < t(1), 1L)
        .when(u < t(2), 2L)
        .when(u < t(3), 3L)
        .otherwise(4L)
      Seq(sum(w).as(s"n$b"), sum(w * col("cents")).as(s"s$b"))
    }
    val row = ev.agg(aggs.head, aggs.tail: _*)
    row
      .select(posexplode(array((0 until BootstrapB).map(b =>
        struct(col(s"n$b").as("n_eff"), col(s"s$b").as("sum_cents"))): _*))
        .as(Seq("replicate", "stats")))
      .select(
        col("replicate").cast("long").as("replicate"),
        col("stats.n_eff").as("n_eff"),
        col("stats.sum_cents").as("sum_cents"),
        (col("stats.sum_cents").cast("double") / col("stats.n_eff") / 100.0).as("boot_mean"))
      .transform(orderedOutput(_, col("replicate")))
  }

  /** k7: AMS/Tug-of-War F2 sketch (Alon, Matias & Szegedy 1996) — the
    * second frequency moment (self-join size / skew measure) of the
    * user_id stream estimated from [[AmsR]] ±1 counters: each estimator
    * keeps ONE running integer Σ sign_r(user) and squares it. All
    * [[AmsR]] counters accumulate in a single map-side-combined pass
    * (conditional sums in one aggregation — no fan-out), then unpivot to
    * one gated row per estimator next to the exact F2 = Σ f_u² so the
    * estimator spread is pinned. Signs derive from md5, identical in
    * both engines.
    */
  private val AmsR = 8

  def amsF2(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
    val signs = (0 until AmsR).map { r =>
      val bit = Sketches.hash32(s"ams$r", col("user_id")) % 2L
      sum(bit * 2L - 1L).as(s"z$r")
    }
    val zRow = ev.agg(signs.head, signs.tail: _*)
    val exact = ev
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("exact_f2"))
    val est = zRow
      .select(posexplode(array((0 until AmsR).map(r => col(s"z$r")): _*)).as(Seq("r", "z")))
      .withColumn("est_f2", col("z") * col("z"))
    est
      .crossJoin(broadcast(exact))
      .select(col("r").cast("long").as("r"), col("z"), col("est_f2"), col("exact_f2"))
      .transform(orderedOutput(_, col("r")))
  }

  /** s11: weighted sampling without replacement — the Efraimidis-Spirakis
    * priority family with an exact-INTEGER priority: each event draws
    * u = hash32 and competes with priority u·10⁶ div (cents+1), so
    * higher-spend rows systematically win smaller priorities and the
    * "sample k" is the k smallest priorities under a total (priority,
    * event_id) order. One TakeOrderedAndProject — no global sort, no
    * float pow(u, 1/w) (whose libm rounding differs across engines).
    * The standard shape for importance-weighted corpus subsampling.
    */
  private val WsK = 100

  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = prepared(spark, sfDir)
      .withColumn("weight", col("cents") + 1L)
      .withColumn("u", Sketches.hash32("ws", col("event_id")))
      .withColumn("priority", expr("(u * 1000000) div weight"))
    ev.select(col("event_id"), col("user_id"), col("cents"), col("weight"), col("priority"))
      .orderBy(col("priority"), col("event_id"))
      .limit(WsK)
      .transform(orderedOutput(_, col("priority"), col("event_id")))
  }

  /** DuckDB-dialect oracle SQL, formula-identical to the Spark plans. */
  val oracle: Map[String, String] = {
    val prep =
      """SELECT event_id, user_id, value AS amount,
        |       epoch_us(ts) AS ord_us,
        |       CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events""".stripMargin
    val aggBody =
      """SELECT event_id, user_id, amount, ord_us,
        |  count(*) OVER w10 AS num_trans_last_10m,
        |  (sum(cents) OVER w10 / count(*) OVER w10) / 100.0 AS avg_amt_last_10m,
        |  count(*) OVER w1w AS num_trans_last_1w,
        |  (sum(cents) OVER w1w / count(*) OVER w1w) / 100.0 AS avg_amt_last_1w
        |FROM prep
        |WINDOW
        |  w10 AS (PARTITION BY user_id ORDER BY ord_us
        |          RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW),
        |  w1w AS (PARTITION BY user_id ORDER BY ord_us
        |          RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin
    val withRatios =
      s"""WITH prep AS ($prep), agg0 AS ($aggBody), agg AS (
         |  SELECT *,
         |    avg_amt_last_10m / avg_amt_last_1w AS amt_ratio1,
         |    amount / avg_amt_last_1w AS amt_ratio2,
         |    num_trans_last_10m / num_trans_last_1w AS count_ratio
         |  FROM agg0)""".stripMargin

    Map(
      "a20_spearman" ->
        s"""WITH prep AS ($prep),
           |u AS (SELECT user_id, CAST(sum(cents) AS BIGINT) AS x,
           |        CAST(count(*) AS BIGINT) AS y FROM prep GROUP BY 1),
           |r AS (SELECT
           |    rank() OVER (ORDER BY x) * 2 + count(*) OVER (PARTITION BY x) - 1 AS rx2,
           |    rank() OVER (ORDER BY y) * 2 + count(*) OVER (PARTITION BY y) - 1 AS ry2
           |  FROM u),
           |s AS (SELECT count(*) AS n,
           |    CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
           |    CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
           |    CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
           |    CAST(sum(ry2 * ry2) AS BIGINT) AS syy FROM r)
           |SELECT n, sx, sy, sxy, sxx, syy,
           |  CAST(n * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           |    AS rho
           |FROM s""".stripMargin,
      "a22_cramers_v" ->
        """WITH cells AS (
          |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
          |    CAST(count(*) AS BIGINT) AS o
          |  FROM events GROUP BY 1, 2),
          |dims AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS r,
          |    CAST(count(DISTINCT dow) AS BIGINT) AS c,
          |    CAST(sum(o) AS BIGINT) AS n FROM cells),
          |m AS (SELECT event_type, dow, o,
          |    sum(o) OVER (PARTITION BY event_type) AS rt,
          |    sum(o) OVER (PARTITION BY dow) AS ct
          |  FROM cells),
          |x AS (SELECT n, r, c,
          |    ((CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
          |      * (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
          |      * 10000) // (CAST(rt AS HUGEINT) * ct) AS cell_x1e4
          |  FROM m CROSS JOIN dims)
          |SELECT CAST(n AS BIGINT) AS n, r, c,
          |  CAST(sum(cell_x1e4) AS BIGINT) AS chi2_x1e4n,
          |  CAST(sum(cell_x1e4) AS DOUBLE) / 10000.0 / n AS chi2,
          |  sqrt((CAST(sum(cell_x1e4) AS DOUBLE) / 10000.0 / n)
          |    / CAST(n * least(r - 1, c - 1) AS DOUBLE)) AS cramers_v
          |FROM x GROUP BY n, r, c""".stripMargin,
      "w29_week_over_week" ->
        s"""WITH w AS (
           |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           |    CAST(count(*) AS BIGINT) AS n_events
           |  FROM events GROUP BY 1, 2)
           |SELECT event_type, week, n_events, cents,
           |  lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS prev_cents,
           |  cents - lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS delta_cents,
           |  ((cents - lag(cents) OVER (PARTITION BY event_type ORDER BY week)) * 10000)
           |    // lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS growth_bps
           |FROM w ORDER BY event_type, week""".stripMargin,
      "a26_cusum_drift" ->
        """WITH ev AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS ord_us,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |base AS (
          |  SELECT sum(cents) // count(*) AS mu0,
          |    (sum(cents) // count(*)) // 10 AS slack,
          |    (sum(cents) // count(*)) * 10 AS h
          |  FROM ev),
          |pfx AS (
          |  SELECT user_id, event_id, ord_us, h,
          |    sum(cents - mu0 - slack) OVER w AS p
          |  FROM ev CROSS JOIN base
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ord_us, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |scan AS (
          |  SELECT user_id, ord_us, h,
          |    p - least(min(p) OVER (PARTITION BY user_id ORDER BY ord_us, event_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
          |  FROM pfx)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(max(s) AS BIGINT) AS max_s,
          |  CAST(CASE WHEN max(s) > any_value(h) THEN 1 ELSE 0 END AS BIGINT) AS alarmed,
          |  CAST(min(CASE WHEN s > h THEN ord_us END) AS BIGINT) AS first_alarm_us
          |FROM scan GROUP BY user_id
          |ORDER BY user_id""".stripMargin,
      "a29_binning_trainfit" ->
        s"""WITH prep AS ($prep),
           |ev AS (
           |  SELECT event_id, cents,
           |    CAST(CASE WHEN event_id % 5 != 0 THEN 1 ELSE 0 END AS BIGINT) AS is_train
           |  FROM prep),
           |tv AS (SELECT cents, count(*) AS c FROM ev WHERE is_train = 1 GROUP BY 1),
           |cum AS (
           |  SELECT cents,
           |    CAST(sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
           |  FROM tv),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev WHERE is_train = 1),
           |cuts AS (
           |  SELECT
           |    min(CASE WHEN cum_c * 4 >= nn.n THEN cents END) AS q1,
           |    min(CASE WHEN cum_c * 4 >= nn.n * 2 THEN cents END) AS q2,
           |    min(CASE WHEN cum_c * 4 >= nn.n * 3 THEN cents END) AS q3
           |  FROM cum CROSS JOIN nn),
           |binned AS (
           |  SELECT e.cents, e.is_train,
           |    CAST(CASE WHEN e.cents > c.q1 THEN 1 ELSE 0 END
           |      + CASE WHEN e.cents > c.q2 THEN 1 ELSE 0 END
           |      + CASE WHEN e.cents > c.q3 THEN 1 ELSE 0 END AS BIGINT) AS bin
           |  FROM ev e CROSS JOIN cuts c)
           |SELECT b.bin,
           |  CAST(sum(b.is_train) AS BIGINT) AS n_train,
           |  CAST(sum(1 - b.is_train) AS BIGINT) AS n_holdout,
           |  CAST(min(b.cents) AS BIGINT) AS min_cents,
           |  CAST(max(b.cents) AS BIGINT) AS max_cents,
           |  CAST(sum(b.cents) AS BIGINT) AS sum_cents,
           |  c.q1, c.q2, c.q3
           |FROM binned b CROSS JOIN cuts c
           |GROUP BY b.bin, c.q1, c.q2, c.q3
           |ORDER BY b.bin""".stripMargin,
      "f15_target_smoothed" ->
        s"""WITH ev AS (
           |  SELECT event_id, event_type,
           |    CAST(CASE WHEN CAST(round(value * 100) AS BIGINT) >= 15000 THEN 1 ELSE 0 END AS BIGINT) AS label,
           |    CAST(CASE WHEN event_id % 5 != 0 THEN 1 ELSE 0 END AS BIGINT) AS is_train
           |  FROM events),
           |gtot AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_glob, CAST(sum(label) AS BIGINT) AS pos_glob
           |  FROM ev WHERE is_train = 1)
           |SELECT e.event_type,
           |  CAST(sum(e.is_train) AS BIGINT) AS n_train,
           |  CAST(sum(e.is_train * e.label) AS BIGINT) AS n_pos,
           |  CAST(sum(1 - e.is_train) AS BIGINT) AS n_holdout,
           |  g.n_glob, g.pos_glob,
           |  CAST(sum(e.is_train * e.label) * g.n_glob + $TePrior * g.pos_glob AS BIGINT) AS enc_num,
           |  CAST((sum(e.is_train) + $TePrior) * g.n_glob AS BIGINT) AS enc_den,
           |  CAST(sum(e.is_train * e.label) * g.n_glob + $TePrior * g.pos_glob AS DOUBLE)
           |    / CAST((sum(e.is_train) + $TePrior) * g.n_glob AS DOUBLE) AS encoding
           |FROM ev e CROSS JOIN gtot g
           |GROUP BY e.event_type, g.n_glob, g.pos_glob
           |ORDER BY e.event_type""".stripMargin,
      "a28_benford" ->
        s"""WITH obs AS (
           |  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           |    CAST(count(*) AS BIGINT) AS n_obs
           |  FROM events
           |  WHERE event_type = '$MwTypeA' AND CAST(round(value * 100) AS BIGINT) >= 1
           |  GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
           |b(digit, benford_ppm) AS (VALUES
           |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
           |  (6, 66947), (7, 57992), (8, 51153), (9, 45757))
           |SELECT CAST(b.digit AS BIGINT) AS digit,
           |  CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
           |  t.n_total,
           |  CAST(coalesce(o.n_obs, 0) * 1000000 // t.n_total AS BIGINT) AS obs_ppm,
           |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
           |  CAST(abs(coalesce(o.n_obs, 0) * 1000000 // t.n_total - b.benford_ppm) AS BIGINT) AS dev_ppm,
           |  CAST(CASE WHEN abs(coalesce(o.n_obs, 0) * 1000000 // t.n_total - b.benford_ppm) > 20000
           |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomalous
           |FROM b LEFT JOIN obs o ON b.digit = o.digit CROSS JOIN tot t
           |ORDER BY b.digit""".stripMargin,
      "a27_tvd_drift" ->
        s"""WITH prep AS ($prep),
           |b AS (SELECT min(ord_us) AS lo, max(ord_us) AS hi FROM prep),
           |binned AS (
           |  SELECT CASE WHEN p.ord_us * 2 >= b.lo + b.hi THEN 1 ELSE 0 END AS is_cur,
           |    least(p.cents // 5000, 9) AS bin
           |  FROM prep p CROSS JOIN b),
           |bins AS (
           |  SELECT bin, CAST(sum(1 - is_cur) AS BIGINT) AS n_ref,
           |    CAST(sum(is_cur) AS BIGINT) AS n_cur
           |  FROM binned GROUP BY 1),
           |tot AS (
           |  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
           |    CAST(sum(n_cur) AS BIGINT) AS t_cur
           |  FROM bins),
           |diffs AS (
           |  SELECT bin, n_ref, n_cur,
           |    abs(n_ref * t.t_cur - n_cur * t.t_ref) AS diff_scaled, t.t_ref, t.t_cur
           |  FROM bins CROSS JOIN tot t),
           |tv AS (SELECT CAST(sum(diff_scaled) AS BIGINT) AS tvd_scaled FROM diffs)
           |SELECT d.bin, d.n_ref, d.n_cur, d.diff_scaled, d.t_ref, d.t_cur, v.tvd_scaled,
           |  CAST(CASE WHEN v.tvd_scaled * 5 > d.t_ref * d.t_cur THEN 1 ELSE 0 END AS BIGINT) AS is_drifted
           |FROM diffs d CROSS JOIN tv v
           |ORDER BY d.bin""".stripMargin,
      "a24_wasserstein" ->
        s"""WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |      FROM events WHERE event_type IN ('$MwTypeA', '$MwTypeB')),
           |g AS (SELECT cents,
           |    CAST(sum(CASE WHEN event_type = '$MwTypeA' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           |    CAST(sum(CASE WHEN event_type = '$MwTypeB' THEN 1 ELSE 0 END) AS BIGINT) AS d2
           |  FROM b GROUP BY 1),
           |c AS (SELECT cents,
           |    CAST(sum(d1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
           |    CAST(sum(d2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2,
           |    lead(cents) OVER (ORDER BY cents) - cents AS gap,
           |    CAST(sum(d1) OVER () AS BIGINT) AS n1,
           |    CAST(sum(d2) OVER () AS BIGINT) AS n2
           |  FROM g)
           |SELECT n1, n2,
           |  CAST(sum(abs(c1 * n2 - c2 * n1) * gap) AS BIGINT) AS w1_num,
           |  CAST(sum(abs(c1 * n2 - c2 * n1) * gap) AS DOUBLE)
           |    / CAST(n1 * n2 AS DOUBLE) AS w1_cents
           |FROM c WHERE gap IS NOT NULL GROUP BY n1, n2""".stripMargin,
      "a23_ks_test" ->
        s"""WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |      FROM events WHERE event_type IN ('$MwTypeA', '$MwTypeB')),
           |g AS (SELECT cents,
           |    CAST(sum(CASE WHEN event_type = '$MwTypeA' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           |    CAST(sum(CASE WHEN event_type = '$MwTypeB' THEN 1 ELSE 0 END) AS BIGINT) AS d2
           |  FROM b GROUP BY 1),
           |c AS (SELECT cents,
           |    CAST(sum(d1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
           |    CAST(sum(d2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2,
           |    CAST(sum(d1) OVER () AS BIGINT) AS n1,
           |    CAST(sum(d2) OVER () AS BIGINT) AS n2
           |  FROM g)
           |SELECT n1, n2, CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
           |  CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d
           |FROM c GROUP BY n1, n2""".stripMargin,
      "s12_poisson_bootstrap" -> {
        val t = Seq(1580030168L, 3160060337L, 3950075421L, 4213413782L)
        val cols = (0 until BootstrapB)
          .map { b =>
            val u = s"CAST(('0x' || substr(md5('boot$b|' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
            val w = s"CASE WHEN $u < ${t(0)} THEN 0 WHEN $u < ${t(1)} THEN 1 WHEN $u < ${t(2)} THEN 2 WHEN $u < ${t(3)} THEN 3 ELSE 4 END"
            s"CAST(sum($w) AS BIGINT) AS n$b,\n    CAST(sum($w * cents) AS BIGINT) AS s$b"
          }
          .mkString(",\n    ")
        val arms = (0 until BootstrapB)
          .map(b => s"SELECT CAST($b AS BIGINT) AS replicate, n$b AS n_eff, s$b AS sum_cents FROM z")
          .mkString("\n  UNION ALL ")
        s"""WITH p AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
           |      FROM events WHERE event_type = '$MwTypeA'),
           |z AS (SELECT
           |    $cols
           |  FROM p),
           |u AS ($arms)
           |SELECT replicate, n_eff, sum_cents,
           |  CAST(sum_cents AS DOUBLE) / n_eff / 100.0 AS boot_mean
           |FROM u ORDER BY replicate""".stripMargin
      },
      "a21_mann_whitney" ->
        s"""WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |      FROM events
           |      WHERE event_type IN ('$MwTypeA', '$MwTypeB')),
           |r AS (SELECT event_type,
           |    rank() OVER (ORDER BY cents) * 2 + count(*) OVER (PARTITION BY cents) - 1 AS r2
           |  FROM b),
           |s AS (SELECT
           |    CAST(sum(CASE WHEN event_type = '$MwTypeA' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(sum(CASE WHEN event_type = '$MwTypeB' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    CAST(sum(CASE WHEN event_type = '$MwTypeA' THEN r2 ELSE 0 END) AS BIGINT) AS r1_x2
           |  FROM r)
           |SELECT n1, n2, r1_x2,
           |  r1_x2 - n1 * (n1 + 1) AS u1_x2,
           |  n1 * n2 * 2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
           |  CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / (n1 * n2 * 2) AS auc
           |FROM s""".stripMargin,
      "s18_neyman_sample" ->
        s"""WITH b AS (SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents
           |      FROM events),
           |cells AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
           |      sum(CAST(cents AS HUGEINT)) AS s_h,
           |      sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS q_h
           |    FROM b GROUP BY 1),
           |wtd AS (SELECT event_type, n_h,
           |    CAST(round(CAST(n_h AS DOUBLE)
           |      * sqrt(CAST(q_h * n_h - s_h * s_h AS DOUBLE)
           |             / (CAST(n_h AS DOUBLE) * CAST(n_h - 1 AS DOUBLE)))
           |      * 1000000.0) AS BIGINT) AS w_fx
           |  FROM cells),
           |tw AS (SELECT CAST(sum(w_fx) AS BIGINT) AS w_total FROM wtd),
           |alloc AS (SELECT event_type, n_h, w_fx,
           |    CAST(($NeymanBudget * w_fx) // w_total AS BIGINT) AS n_alloc
           |  FROM wtd CROSS JOIN tw),
           |r AS (SELECT event_type, event_id, cents,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY substr(md5('neyman|' || CAST(event_id AS VARCHAR)), 1, 8), event_id)
           |      AS draw_rnk
           |  FROM b),
           |drawn AS (SELECT r.event_type, CAST(count(*) AS BIGINT) AS n_drawn,
           |      CAST(sum(r.cents) AS BIGINT) AS sample_cents
           |    FROM r JOIN alloc a ON r.event_type = a.event_type AND r.draw_rnk <= a.n_alloc
           |    GROUP BY 1)
           |SELECT a.event_type, a.n_h, a.w_fx, a.n_alloc,
           |  coalesce(d.n_drawn, 0) AS n_drawn, coalesce(d.sample_cents, 0) AS sample_cents
           |FROM alloc a LEFT JOIN drawn d USING (event_type)
           |ORDER BY a.event_type""".stripMargin,
      "a37_kaplan_meier" ->
        s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ord_us FROM events),
           |u AS (SELECT user_id, min(ord_us) AS t0,
           |        min(CASE WHEN event_type = 'purchase' THEN ord_us END) AS tp
           |      FROM e GROUP BY 1),
           |mx AS (SELECT max(ord_us) AS tmax FROM e),
           |d AS (SELECT
           |        CASE WHEN tp IS NOT NULL THEN (tp - t0) // $DayUs
           |             ELSE (tmax - t0) // $DayUs END AS day,
           |        CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
           |      FROM u CROSS JOIN mx),
           |r AS (SELECT day, CAST(sum(ev) AS BIGINT) AS d_events,
           |        CAST(sum(1 - ev) AS BIGINT) AS n_censored,
           |        CAST(count(*) AS BIGINT) AS total_d
           |      FROM d GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM u)
           |SELECT r.day,
           |  CAST(n.n_total - (sum(r.total_d) OVER (ORDER BY r.day) - r.total_d) AS BIGINT)
           |    AS n_at_risk,
           |  r.d_events, r.n_censored
           |FROM r CROSS JOIN n ORDER BY r.day""".stripMargin,
      "a36_kruskal_wallis" ->
        """WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
          |      FROM events),
          |r AS (SELECT event_type, cents,
          |    rank() OVER (ORDER BY cents) * 2 + count(*) OVER (PARTITION BY cents) - 1 AS r2
          |  FROM b),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
          |        CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cube
          |      FROM (SELECT count(*) AS cnt FROM b GROUP BY cents)),
          |g AS (SELECT event_type,
          |        CAST(count(*) AS BIGINT) AS n_g,
          |        CAST(sum(r2) AS BIGINT) AS r2_g
          |      FROM r GROUP BY 1)
          |SELECT g.event_type, g.n_g, g.r2_g, t.n, t.tie_cube,
          |  3.0 * CAST(g.r2_g AS DOUBLE) * CAST(g.r2_g AS DOUBLE)
          |    / (CAST(g.n_g AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE)) AS h_term_g,
          |  1.0 - CAST(t.tie_cube AS DOUBLE)
          |    / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE) - CAST(t.n AS DOUBLE)) AS tie_factor
          |FROM g CROSS JOIN t ORDER BY g.event_type""".stripMargin,
      "k7_ams_f2" -> {
        val zCols = (0 until AmsR)
          .map(r =>
            s"CAST(sum((CAST(('0x' || substr(md5('ams$r|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2) * 2 - 1) AS BIGINT) AS z$r")
          .mkString(",\n    ")
        val arms = (0 until AmsR)
          .map(r => s"SELECT CAST($r AS BIGINT) AS r, z$r AS z FROM zr")
          .mkString("\n  UNION ALL ")
        s"""WITH zr AS (SELECT
           |    $zCols
           |  FROM events),
           |ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2 FROM (
           |    SELECT CAST(count(*) AS BIGINT) AS f FROM events GROUP BY user_id)),
           |est AS ($arms)
           |SELECT r, z, z * z AS est_f2, exact_f2
           |FROM est CROSS JOIN ex ORDER BY r""".stripMargin
      },
      "s11_weighted_sample" ->
        s"""WITH prep AS ($prep),
           |w AS (SELECT event_id, user_id, cents, cents + 1 AS weight,
           |    (CAST(('0x' || substr(md5('ws|' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |      * 1000000) // (cents + 1) AS priority
           |  FROM prep)
           |SELECT event_id, user_id, cents, weight, priority
           |FROM w ORDER BY priority, event_id LIMIT $WsK""".stripMargin,
      "w1_trailing_agg" ->
        s"""$withRatios
           |SELECT event_id, user_id, amount, num_trans_last_10m, avg_amt_last_10m,
           |       num_trans_last_1w, avg_amt_last_1w, amt_ratio1, amt_ratio2, count_ratio
           |FROM agg ORDER BY event_id""".stripMargin,
      "w5_latest_per_key" ->
        s"""$withRatios
           |SELECT DISTINCT user_id, ts_us, num_trans_last_1w, avg_amt_last_1w FROM (
           |  SELECT user_id, ord_us AS ts_us, num_trans_last_1w, avg_amt_last_1w,
           |         dense_rank() OVER (PARTITION BY user_id ORDER BY ord_us DESC) AS rk
           |  FROM agg) WHERE rk = 1 ORDER BY user_id""".stripMargin,
      // w7/S5: LWW store contents == the put log's per-key LATEST trailing
      // 1-week aggregates (the dense_rank form of max_by over event time);
      // avg is the single double division of the exact integer window sum,
      // mirroring Spark's avg over the cents column
      "w7_store_contents" ->
        s"""WITH prep AS ($prep), agg AS (
           |  SELECT user_id, ord_us,
           |    count(*) OVER w1w AS cnt_1w,
           |    sum(cents) OVER w1w / count(*) OVER w1w AS avg_1w
           |  FROM prep
           |  WINDOW w1w AS (PARTITION BY user_id ORDER BY ord_us
           |                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
           |SELECT DISTINCT user_id AS key, ord_us AS event_time_us,
           |       CAST(cnt_1w AS BIGINT) AS cnt_1w, avg_1w
           |FROM (SELECT *, dense_rank() OVER (PARTITION BY user_id ORDER BY ord_us DESC) AS rk
           |      FROM agg) WHERE rk = 1
           |ORDER BY key""".stripMargin,
      "w31_store_ttl" ->
        s"""WITH prep AS ($prep), agg AS (
           |  SELECT user_id, ord_us,
           |    count(*) OVER w1w AS cnt_1w,
           |    sum(cents) OVER w1w / count(*) OVER w1w AS avg_1w
           |  FROM prep
           |  WINDOW w1w AS (PARTITION BY user_id ORDER BY ord_us
           |                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)),
           |latest AS (
           |  SELECT DISTINCT user_id AS key, ord_us AS event_time_us,
           |         CAST(cnt_1w AS BIGINT) AS cnt_1w, avg_1w
           |  FROM (SELECT *, dense_rank() OVER (PARTITION BY user_id ORDER BY ord_us DESC) AS rk
           |        FROM agg) WHERE rk = 1),
           |nw AS (SELECT max(ord_us) AS now_us FROM prep)
           |SELECT l.key, l.event_time_us, l.cnt_1w, l.avg_1w
           |FROM latest l, nw
           |WHERE l.event_time_us + ${WeekUs}::BIGINT > nw.now_us
           |ORDER BY l.key""".stripMargin,
      "j1_enrich_staleness" ->
        s"""$withRatios, snap AS (
           |  SELECT DISTINCT user_id, ts_us AS snap_ts_us, cnt_short, avg_short, cnt_long, avg_long FROM (
           |    SELECT user_id, ord_us AS ts_us,
           |           num_trans_last_10m AS cnt_short, avg_amt_last_10m AS avg_short,
           |           num_trans_last_1w AS cnt_long, avg_amt_last_1w AS avg_long,
           |           dense_rank() OVER (PARTITION BY user_id ORDER BY ord_us DESC) AS rk
           |    FROM agg) WHERE rk = 1),
           |nw AS (SELECT max(ord_us) AS now_us FROM prep)
           |SELECT e.event_id, e.user_id, e.amount,
           |  coalesce(s.cnt_short, 0) AS num_recent,
           |  coalesce(s.avg_short, 0.0) AS avg_recent,
           |  CASE WHEN (nw.now_us - s.snap_ts_us) <= 600000000
           |        AND s.avg_long IS NOT NULL AND s.avg_long > 0
           |       THEN s.avg_short / s.avg_long ELSE 0.0 END AS amt_ratio1,
           |  CASE WHEN (nw.now_us - s.snap_ts_us) <= 600000000
           |        AND s.avg_long IS NOT NULL AND s.avg_long > 0
           |       THEN e.amount / s.avg_long ELSE 0.0 END AS amt_ratio2,
           |  CASE WHEN (nw.now_us - s.snap_ts_us) <= 600000000
           |        AND s.cnt_long IS NOT NULL AND s.cnt_long > 0
           |       THEN s.cnt_short / s.cnt_long ELSE 0.0 END AS count_ratio
           |FROM prep e CROSS JOIN nw
           |LEFT JOIN snap s ON e.user_id = s.user_id
           |WHERE e.ord_us > nw.now_us - 86400000000
           |ORDER BY e.event_id""".stripMargin,
      "j3_asof_join" ->
        s"""WITH prep AS ($prep),
           |snaps AS (
           |  SELECT user_id, ord_us AS snap_ts, max(cents) AS snap_cents
           |  FROM prep WHERE event_id % 10 = 0 GROUP BY 1, 2)
           |SELECT p.event_id, p.user_id, p.ord_us, p.cents,
           |  coalesce(s.snap_ts, -1) AS asof_ts,
           |  coalesce(s.snap_cents, -1) AS snap_cents
           |FROM prep p ASOF LEFT JOIN snaps s
           |  ON p.user_id = s.user_id AND p.ord_us >= s.snap_ts
           |ORDER BY p.event_id""".stripMargin,
      "j11_training_dataset" ->
        s"""WITH prep AS ($prep),
           |l AS (
           |  SELECT event_id, user_id, ord_us,
           |    CAST(CASE WHEN cents >= 15000 THEN 1 ELSE 0 END AS BIGINT) AS label
           |  FROM prep WHERE event_id % 5 = 0),
           |fa AS (
           |  SELECT user_id, (ord_us // 86400000000 + 1) * 86400000000 AS avail_us,
           |    count(*) AS n_day, CAST(sum(cents) AS BIGINT) AS day_cents
           |  FROM prep GROUP BY 1, 2),
           |fb AS (
           |  SELECT user_id, ord_us AS snap_us, max(cents) AS snap_cents
           |  FROM prep WHERE event_id % 10 = 0 GROUP BY 1, 2)
           |SELECT l.event_id, l.user_id, l.ord_us, l.label,
           |  coalesce(a.n_day, 0) AS n_day,
           |  coalesce(a.day_cents, 0) AS day_cents,
           |  coalesce(a.avail_us, -1) AS daily_asof_us,
           |  coalesce(b.snap_cents, -1) AS snap_cents,
           |  coalesce(b.snap_us, -1) AS profile_asof_us
           |FROM l
           |ASOF LEFT JOIN fa a ON l.user_id = a.user_id AND l.ord_us >= a.avail_us
           |ASOF LEFT JOIN fb b ON l.user_id = b.user_id AND l.ord_us >= b.snap_us
           |ORDER BY l.event_id""".stripMargin,
      "w7_sessionize" ->
        s"""WITH prep AS ($prep),
           |s1 AS (
           |  SELECT user_id, ord_us, cents,
           |    CASE WHEN lag(ord_us) OVER w IS NULL
           |           OR ord_us - lag(ord_us) OVER w > $SessionGapUs
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM prep
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ord_us)),
           |s2 AS (
           |  SELECT user_id, ord_us, cents,
           |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ord_us
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           |  FROM s1)
           |SELECT user_id, session_idx, count(*) AS n_events,
           |  min(ord_us) AS start_us, max(ord_us) AS end_us,
           |  max(ord_us) - min(ord_us) AS span_us,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM s2 GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
      "j4_range_join" ->
        s"""WITH prep AS ($prep),
           |iv AS (
           |  SELECT event_id AS interval_id, ord_us AS start_us,
           |         ord_us + $IntervalSpanUs AS end_us, cents AS weight
           |  FROM prep WHERE event_id % 50 = 0),
           |hits AS (
           |  SELECT e.event_id, count(*) AS n_intervals,
           |         CAST(sum(i.weight) AS BIGINT) AS w_sum,
           |         max(i.interval_id) AS last_interval
           |  FROM prep e JOIN iv i
           |    ON e.ord_us >= i.start_us AND e.ord_us < i.end_us
           |  GROUP BY 1)
           |SELECT p.event_id, p.ord_us,
           |  coalesce(h.n_intervals, 0) AS n_intervals,
           |  coalesce(h.w_sum, 0) AS w_sum,
           |  coalesce(h.last_interval, -1) AS last_interval
           |FROM prep p LEFT JOIN hits h ON p.event_id = h.event_id
           |ORDER BY p.event_id""".stripMargin,
      "a2_spend_quantiles" ->
        s"""WITH prep AS ($prep)
           |SELECT user_id, count(*) AS n,
           |  quantile_cont(cents, 0.5) AS p50,
           |  quantile_cont(cents, 0.9) AS p90,
           |  quantile_cont(cents, 0.99) AS p99
           |FROM prep GROUP BY user_id ORDER BY user_id""".stripMargin,
      // a30: same daily rollup, same exact lower median, same lag-run
      // count, same cross-multiplied 2-sigma inequality
      // a31: S, the tie term, and the 2-sigma verdict all derive in
      // integers from the same bounded daily rollup
      "a31_mann_kendall" ->
        s"""WITH prep AS ($prep),
           |daily AS (
           |  SELECT ord_us // 86400000000 AS day, CAST(sum(cents) AS BIGINT) AS day_cents
           |  FROM prep GROUP BY 1),
           |p AS (
           |  SELECT CAST(sum(CASE WHEN b.day_cents > a.day_cents THEN 1
           |                       WHEN b.day_cents < a.day_cents THEN -1
           |                       ELSE 0 END) AS BIGINT) AS s_stat
           |  FROM daily a JOIN daily b ON a.day < b.day),
           |t AS (
           |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
           |  FROM (SELECT count(*) AS t FROM daily GROUP BY day_cents) WHERE t > 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
           |SELECT n_days, s_stat,
           |  n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18,
           |  tie_term,
           |  CAST(CASE WHEN 18 * (CASE WHEN abs(s_stat) >= 1
           |                            THEN (abs(s_stat) - 1) * (abs(s_stat) - 1)
           |                            ELSE 0 END)
           |            > 4 * (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)
           |       THEN 1 ELSE 0 END AS BIGINT) AS trend_2sigma
           |FROM nn CROSS JOIN p CROSS JOIN t""".stripMargin,
      // f16: one (type x fold) rollup, out-of-fold rates by subtraction
      // from the per-type totals — the oracle derives the identical
      // frame, so a leak (a row's own fold contributing) diverges
      "f16_oof_encoding" ->
        s"""WITH f AS (
           |  SELECT event_id, event_type,
           |    CAST(round(value * 100) AS BIGINT) AS cents,
           |    CAST((strpos('0123456789abcdef',
           |      substr(md5('kfold|' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 4 AS BIGINT) AS fold
           |  FROM events),
           |pf AS (
           |  SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n_f,
           |    CAST(sum(cents) AS BIGINT) AS s_f
           |  FROM f GROUP BY 1, 2),
           |tt AS (
           |  SELECT event_type, CAST(sum(n_f) AS BIGINT) AS n_t,
           |    CAST(sum(s_f) AS BIGINT) AS s_t
           |  FROM pf GROUP BY 1)
           |SELECT event_id, fold,
           |  s_t - s_f AS oof_num, n_t - n_f AS oof_den,
           |  CASE WHEN n_t - n_f > 0
           |       THEN CAST(s_t - s_f AS DOUBLE) / CAST(n_t - n_f AS DOUBLE) END AS oof_mean
           |FROM f JOIN pf USING (event_type, fold) JOIN tt USING (event_type)
           |ORDER BY event_id""".stripMargin,
      // s16: fold = first md5 hex digit of the USER mod 4; train rows
      // derive by subtraction from the fold-disjoint totals
      "s16_kfold" ->
        s"""WITH prep AS ($prep),
           |f AS (
           |  SELECT event_id, user_id, cents,
           |    CAST((strpos('0123456789abcdef',
           |      substr(md5('kfold|' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 4 AS BIGINT) AS fold
           |  FROM prep),
           |per AS (
           |  SELECT fold, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(DISTINCT user_id) AS BIGINT) AS u,
           |    CAST(sum(cents) AS BIGINT) AS c
           |  FROM f GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(u) AS BIGINT) AS tu,
           |               CAST(sum(c) AS BIGINT) AS tc FROM per)
           |SELECT fold, role, n_events, n_users, sum_cents FROM (
           |  SELECT fold, 'val' AS role, n AS n_events, u AS n_users, c AS sum_cents FROM per
           |  UNION ALL
           |  SELECT fold, 'train', tn - n, tu - u, tc - c FROM per CROSS JOIN tot)
           |ORDER BY fold, role""".stripMargin,
      "a30_runs_test" ->
        s"""WITH prep AS ($prep),
           |daily AS (
           |  SELECT ord_us // 86400000000 AS day, CAST(sum(cents) AS BIGINT) AS day_cents
           |  FROM prep GROUP BY 1),
           |rk AS (
           |  SELECT day, day_cents,
           |    row_number() OVER (ORDER BY day_cents, day) AS r,
           |    count(*) OVER () AS nn
           |  FROM daily),
           |med AS (SELECT day_cents AS med_cents FROM rk WHERE r = (nn + 1) // 2),
           |sg AS (
           |  SELECT day, CASE WHEN day_cents > med_cents THEN 1 ELSE 0 END AS sgn,
           |    lag(CASE WHEN day_cents > med_cents THEN 1 ELSE 0 END) OVER (ORDER BY day)
           |      AS prev_sgn
           |  FROM daily CROSS JOIN med WHERE day_cents != med_cents),
           |ag AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_days,
           |    CAST(sum(sgn) AS BIGINT) AS n_above,
           |    CAST(count(*) - sum(sgn) AS BIGINT) AS n_below,
           |    CAST(1 + sum(CASE WHEN prev_sgn IS NOT NULL AND prev_sgn != sgn
           |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
           |  FROM sg)
           |SELECT n_days, n_above, n_below, n_runs,
           |  CAST(n_runs * n_days - n_days - 2 * n_above * n_below AS BIGINT) AS diff_num,
           |  CAST(CASE WHEN (n_runs * n_days - n_days - 2 * n_above * n_below)
           |             * (n_runs * n_days - n_days - 2 * n_above * n_below) * (n_days - 1)
           |           > 4 * (2 * n_above * n_below) * (2 * n_above * n_below - n_days)
           |       THEN 1 ELSE 0 END AS BIGINT) AS nonrandom_2sigma
           |FROM ag""".stripMargin,
      "k1_kmv_distinct" -> KmvOracleSql,
      // k8: the native-aggregate form is held to the SAME derivation —
      // one oracle text gates both the relational and the imperative path
      "k8_kmv_agg" -> KmvOracleSql,
      // s17: same two user-keyed windows in SQL; the 80% cut is exact
      // integer arithmetic on both engines
      "s17_temporal_split" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT event_id, user_id, ord_us,
           |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user
           |  FROM prep)
           |SELECT event_id, user_id, ord_us, rn, n_user,
           |  CASE WHEN rn * 5 <= n_user * 4 THEN 'train' ELSE 'test' END AS split
           |FROM r ORDER BY event_id""".stripMargin,
      "s5_hash_split" ->
        """SELECT event_id, user_id, u8,
          |  CASE WHEN u8 < 'cc000000' THEN 'train'
          |       WHEN u8 < 'e6000000' THEN 'val'
          |       ELSE 'test' END AS split
          |FROM (
          |  SELECT event_id, user_id,
          |    substr(md5('split|' || CAST(event_id AS VARCHAR)), 1, 8) AS u8
          |  FROM events)
          |ORDER BY event_id""".stripMargin,
      "a3_sampled_quantiles" ->
        """WITH s AS (
          |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events
          |  WHERE substr(md5('aq|' || CAST(event_id AS VARCHAR)), 1, 8) < '40000000')
          |SELECT user_id, count(*) AS n_sampled,
          |  quantile_cont(cents, 0.5) AS p50,
          |  quantile_cont(cents, 0.9) AS p90
          |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
      "g1_salted_rollup" ->
        """SELECT event_type,
          |  CAST(sum(cents) AS BIGINT) AS sum_cents,
          |  count(*) AS cnt,
          |  CAST(sum(cents) AS BIGINT) / count(*) / 100.0 AS avg_amount
          |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "g2_salted_topk" ->
        """SELECT event_type, rnk, event_id, user_id, cents FROM (
          |  SELECT event_type, event_id, user_id, cents,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY cents DESC, event_id) AS BIGINT) AS rnk
          |  FROM (SELECT event_type, event_id, user_id,
          |          CAST(round(value * 100) AS BIGINT) AS cents FROM events))
          |WHERE rnk <= 5
          |ORDER BY event_type, rnk""".stripMargin,
      "q4_pivot_spend" -> {
        val cols = Seq("click", "error", "purchase", "signup", "view")
          .map(t =>
            s"CAST(coalesce(sum(CASE WHEN event_type = '$t' THEN cents END), 0) AS BIGINT) AS $t")
          .mkString(",\n  ")
        s"""SELECT user_id,
           |  $cols
           |FROM (SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |      FROM events)
           |GROUP BY user_id ORDER BY user_id""".stripMargin
      },
      "q6_rollup_spend" ->
        """SELECT coalesce(event_type, 'ALL') AS event_type,
          |  coalesce(day, -1) AS day,
          |  count(*) AS n_events,
          |  CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
          |GROUP BY ROLLUP(event_type, day)
          |ORDER BY 1, 2""".stripMargin,
      "q7_cube_spend" ->
        """SELECT coalesce(event_type, 'ALL') AS event_type,
          |  coalesce(stratum, -1) AS stratum,
          |  count(*) AS n_events,
          |  CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM (SELECT event_type, user_id % 4 AS stratum,
          |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
          |GROUP BY CUBE(event_type, stratum)
          |ORDER BY 1, 2""".stripMargin,
      "w11_lag_features" ->
        s"""WITH prep AS ($prep)
           |SELECT event_id, user_id, ord_us, cents,
           |  CAST(row_number() OVER w AS BIGINT) AS seq,
           |  coalesce(lag(cents, 1) OVER w, -1) AS prev_cents,
           |  coalesce(lead(cents, 1) OVER w, -1) AS next_cents,
           |  CASE WHEN lag(cents, 1) OVER w IS NULL THEN 0
           |       ELSE cents - lag(cents, 1) OVER w END AS delta_cents,
           |  CAST(sum(cents) OVER w3 AS BIGINT) AS roll3_cents
           |FROM prep
           |WINDOW
           |  w AS (PARTITION BY user_id ORDER BY ord_us, event_id),
           |  w3 AS (PARTITION BY user_id ORDER BY ord_us, event_id
           |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           |ORDER BY event_id""".stripMargin,
      "a4_value_histogram" ->
        s"""SELECT bucket, bucket * $HistWidthCents AS lo_cents,
           |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(min(cents) AS BIGINT) AS min_cents, CAST(max(cents) AS BIGINT) AS max_cents
           |FROM (
           |  SELECT least(${HistBuckets - 1L}, cents // $HistWidthCents) AS bucket, cents
           |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events))
           |GROUP BY bucket ORDER BY bucket""".stripMargin,
      "w12_gap_fill_daily" ->
        """WITH daily AS (
          |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
          |    count(*) AS n_events,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |  FROM events GROUP BY 1, 2),
          |cal AS (
          |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
          |  FROM daily GROUP BY user_id)
          |SELECT c.user_id, c.day,
          |  coalesce(d.n_events, 0) AS n_events,
          |  coalesce(d.day_cents, 0) AS day_cents
          |FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
          |ORDER BY c.user_id, c.day""".stripMargin,
      "s9_entity_split" ->
        """SELECT event_id, user_id, u8,
          |  CASE WHEN u8 < 'c0000000' THEN 'train' ELSE 'test' END AS split
          |FROM (
          |  SELECT event_id, user_id,
          |    substr(md5('esplit|' || CAST(user_id AS VARCHAR)), 1, 8) AS u8
          |  FROM events)
          |ORDER BY event_id""".stripMargin,
      "w15_moving_median" ->
        s"""WITH prep AS ($prep)
           |SELECT event_id, user_id, ord_us, cents,
           |  quantile_cont(cents, 0.5) OVER (
           |    PARTITION BY user_id ORDER BY ord_us, event_id
           |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5_cents
           |FROM prep
           |ORDER BY event_id""".stripMargin,
      "s3_regex_props" ->
        """SELECT k, count(*) AS n FROM (
          |  SELECT CASE WHEN regexp_extract(props, '"k": (\d+)', 1) = ''
          |              THEN -1
          |              ELSE CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) END AS k
          |  FROM events)
          |GROUP BY k ORDER BY k""".stripMargin,
      "q10_data_quality" -> {
        val checks = Seq(
          "cents_in_range", "event_id_nonnull", "event_id_unique",
          "event_type_in_domain", "ts_in_2024", "user_id_nonnull")
        val arms = checks
          .map(c => s"SELECT '$c' AS check_name, CAST($c AS BIGINT) AS n_violations FROM agg")
          .mkString("\n  UNION ALL ")
        s"""WITH prep AS (
           |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ord_us,
           |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
           |agg AS (SELECT
           |  count(*) - count(DISTINCT event_id) AS event_id_unique,
           |  count(CASE WHEN event_id IS NULL THEN 1 END) AS event_id_nonnull,
           |  count(CASE WHEN user_id IS NULL THEN 1 END) AS user_id_nonnull,
           |  count(CASE WHEN cents < 0 OR cents > 100000 THEN 1 END) AS cents_in_range,
           |  count(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view')
           |        THEN 1 END) AS event_type_in_domain,
           |  count(CASE WHEN ord_us < 1704067200000000 OR ord_us >= 1735689600000000
           |        THEN 1 END) AS ts_in_2024
           | FROM prep)
           |SELECT check_name, n_violations,
           |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
           |FROM (
           |  $arms)
           |ORDER BY check_name""".stripMargin
      },
      "a7_table_profile" -> {
        val cols = Seq("event_id", "user_id", "event_type", "cents", "ord_us")
        val arms = cols
          .map(c =>
            s"""SELECT '$c' AS column_name, count($c) AS n_nonnull,
               |    count(DISTINCT $c) AS n_distinct,
               |    CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
               |  FROM prep""".stripMargin)
          .mkString("\n  UNION ALL ")
        s"""WITH prep AS (
           |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ord_us,
           |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
           |SELECT * FROM (
           |  $arms)
           |ORDER BY column_name""".stripMargin
      },
      "j7_full_outer_daily" ->
        """WITH prep AS (
          |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
          |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          |p AS (SELECT day, count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS purchase_cents
          |      FROM prep WHERE event_type = 'purchase' GROUP BY 1),
          |c AS (SELECT day, count(*) AS n_clicks, CAST(sum(cents) AS BIGINT) AS click_cents
          |      FROM prep WHERE event_type = 'click' GROUP BY 1)
          |SELECT coalesce(p.day, c.day) AS day,
          |  coalesce(n_purchases, 0) AS n_purchases,
          |  coalesce(purchase_cents, 0) AS purchase_cents,
          |  coalesce(n_clicks, 0) AS n_clicks,
          |  coalesce(click_cents, 0) AS click_cents
          |FROM p FULL OUTER JOIN c ON p.day = c.day
          |ORDER BY day""".stripMargin,
      "a6_spend_mad" ->
        """WITH prep AS (
          |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
          |        FROM prep GROUP BY 1)
          |SELECT p.event_type, count(*) AS n, min(m.med_cents) AS med_cents,
          |  quantile_cont(abs(CAST(p.cents AS DOUBLE) - m.med_cents), 0.5) AS mad_cents
          |FROM prep p JOIN med m ON p.event_type = m.event_type
          |GROUP BY p.event_type
          |ORDER BY p.event_type""".stripMargin,
      "j6_click_attribution" ->
        s"""WITH typed AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS ord_us, event_type FROM events)
           |SELECT p.user_id, p.event_id AS l_id, c.event_id AS r_id,
           |  p.ord_us - c.ord_us AS gap_us
           |FROM typed p JOIN typed c
           |  ON p.user_id = c.user_id
           | AND p.event_type = 'purchase' AND c.event_type = 'click'
           | AND c.ord_us >= p.ord_us - $AttributionWindowUs
           | AND c.ord_us <= p.ord_us
           |ORDER BY l_id, r_id""".stripMargin,
      "q9_user_type_profile" ->
        """WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
          |s AS (
          |  SELECT user_id, count(*) AS n_types,
          |    string_agg(event_type, '|' ORDER BY event_type) AS types_str
          |  FROM d GROUP BY 1),
          |t AS (
          |  SELECT user_id, count(*) AS n_events,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM events GROUP BY 1)
          |SELECT t.user_id, t.n_events, s.n_types, t.total_cents, s.types_str
          |FROM t JOIN s ON t.user_id = s.user_id
          |ORDER BY t.user_id""".stripMargin,
      "w13_decay_spend" ->
        s"""WITH prep AS ($prep),
           |daily AS (
           |  SELECT user_id, ord_us // 86400000000 AS day,
           |    CAST(sum(cents) AS BIGINT) AS day_cents
           |  FROM prep GROUP BY 1, 2),
           |m AS (SELECT max(day) AS max_day FROM daily)
           |SELECT user_id, count(*) AS n_days,
           |  CAST(sum(day_cents * (CASE WHEN max_day - day <= $DecayShift
           |    THEN CAST(1 AS BIGINT) << CAST($DecayShift - (max_day - day) AS INTEGER)
           |    ELSE 0 END)) AS BIGINT) AS decayed_scaled
           |FROM daily CROSS JOIN m
           |GROUP BY user_id ORDER BY user_id""".stripMargin,
      "w14_spend_rank" ->
        s"""WITH totals AS (
           |  SELECT event_type, user_id,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
           |  FROM events GROUP BY 1, 2)
           |SELECT event_type, user_id, total_cents,
           |  CAST(rank() OVER w AS BIGINT) AS rnk,
           |  percent_rank() OVER w AS pct_rank,
           |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
           |FROM totals
           |WINDOW w AS (PARTITION BY event_type ORDER BY total_cents DESC, user_id)
           |ORDER BY event_type, rnk""".stripMargin,
      "j5_anti_blocklist" ->
        s"""WITH prep AS ($prep),
           |block AS (SELECT DISTINCT user_id FROM prep WHERE user_id % $BlockMod = 0)
           |SELECT event_id, user_id, cents FROM prep e
           |WHERE NOT EXISTS (SELECT 1 FROM block b WHERE b.user_id = e.user_id)
           |ORDER BY event_id""".stripMargin,
      "q8_user_set_ops" ->
        s"""WITH prep AS ($prep),
           |bounds AS (SELECT min(ord_us) AS lo, max(ord_us) AS hi FROM prep),
           |fw AS (SELECT DISTINCT user_id FROM prep, bounds WHERE ord_us < lo + $WeekUs),
           |lw AS (SELECT DISTINCT user_id FROM prep, bounds WHERE ord_us >= hi - $WeekUs)
           |SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM fw INTERSECT SELECT user_id FROM lw)
           |UNION ALL
           |SELECT user_id, 'first_only' FROM (SELECT user_id FROM fw EXCEPT SELECT user_id FROM lw)
           |UNION ALL
           |SELECT user_id, 'last_only' FROM (SELECT user_id FROM lw EXCEPT SELECT user_id FROM fw)
           |ORDER BY user_id, cohort""".stripMargin,
      "w30_event_pattern" ->
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ord_us, event_type FROM events),
           |b AS (SELECT user_id, event_id, ord_us, event_type,
           |        lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2,
           |        lead(ord_us, 1) OVER w AS u1, lead(ord_us, 2) OVER w AS u2,
           |        lead(event_id, 2) OVER w AS end_id
           |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ord_us, event_id))
           |SELECT user_id, event_id AS start_id, end_id, ord_us AS start_us, u2 AS end_us,
           |  u2 - ord_us AS span_us
           |FROM b
           |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
           |  AND u1 - ord_us <= $PatternGapUs AND u2 - u1 <= $PatternGapUs
           |ORDER BY user_id, start_id""".stripMargin,
      "a32_anova" ->
        """WITH g AS (
          |  SELECT event_type, count(*) AS n_g,
          |    sum(CAST(round(value * 100) AS BIGINT)) AS s_g,
          |    sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS q_g
          |  FROM events GROUP BY event_type),
          |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s FROM g)
          |SELECT event_type, n_g, CAST(s_g AS VARCHAR) AS s_g, CAST(q_g AS VARCHAR) AS q_g, n,
          |  (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          |    * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          |    * CAST(n_g AS DOUBLE) AS ssb_g,
          |  CAST(q_g * n_g - s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS ssw_g
          |FROM g CROSS JOIN t ORDER BY event_type""".stripMargin,
      "a33_multireg" ->
        """WITH e AS (
          |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS x,
          |    (epoch_us(ts) // 86400000000) % 7 AS z,
          |    CAST(round(value * 100) AS BIGINT) AS y
          |  FROM events),
          |g AS (
          |  SELECT event_type, count(*) AS n,
          |    sum(x) AS sx, sum(z) AS sz, sum(y) AS sy,
          |    sum(x * x) AS sxx0, sum(z * z) AS szz0, sum(x * z) AS sxz0,
          |    sum(x * y) AS sxy0, sum(z * y) AS szy0
          |  FROM e GROUP BY event_type),
          |m AS (
          |  SELECT event_type, n,
          |    n * sxx0 - sx * sx AS cxx, n * szz0 - sz * sz AS czz,
          |    n * sxz0 - sx * sz AS cxz, n * sxy0 - sx * sy AS cxy,
          |    n * szy0 - sz * sy AS czy
          |  FROM g)
          |SELECT event_type, n, CAST(cxx AS VARCHAR) AS cxx, CAST(czz AS VARCHAR) AS czz,
          |  CAST(cxz AS VARCHAR) AS cxz, CAST(cxy AS VARCHAR) AS cxy, CAST(czy AS VARCHAR) AS czy,
          |  CASE WHEN cxx * czz - cxz * cxz <> 0 THEN
          |    CAST(cxy * czz - czy * cxz AS DOUBLE) / CAST(cxx * czz - cxz * cxz AS DOUBLE) END AS beta_x,
          |  CASE WHEN cxx * czz - cxz * cxz <> 0 THEN
          |    CAST(czy * cxx - cxy * cxz AS DOUBLE) / CAST(cxx * czz - cxz * cxz AS DOUBLE) END AS beta_z
          |FROM m ORDER BY event_type""".stripMargin,
      "k9_kmv_quantiles" ->
        s"""WITH h AS (SELECT DISTINCT event_type,
           |        CAST(('0x' || substr(md5('kq|' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv,
           |        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
           |s AS (SELECT event_type, cents,
           |        row_number() OVER (PARTITION BY event_type ORDER BY hv, cents) AS rn FROM h),
           |smp AS (SELECT event_type, cents FROM s WHERE rn <= $KmvSampleK),
           |r AS (SELECT event_type, cents,
           |        row_number() OVER (PARTITION BY event_type ORDER BY cents) AS vr,
           |        count(*) OVER (PARTITION BY event_type) AS m
           |      FROM smp)
           |SELECT event_type, CAST(m AS BIGINT) AS m,
           |  CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.25 * m) AS BIGINT), 1) THEN cents END) AS BIGINT) AS q25,
           |  CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.50 * m) AS BIGINT), 1) THEN cents END) AS BIGINT) AS q50,
           |  CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.75 * m) AS BIGINT), 1) THEN cents END) AS BIGINT) AS q75
           |FROM r GROUP BY event_type, m ORDER BY event_type""".stripMargin,
      // a35: the same calendar-bounded daily pair frame as a34; counts
      // exact, tau-b the one double expression (factored sqrts)
      "a35_kendall_tau" ->
        s"""WITH prep AS ($prep),
           |daily AS (SELECT ord_us // 86400000000 AS day,
           |                 CAST(count(*) AS BIGINT) AS n_ev,
           |                 CAST(sum(cents) AS BIGINT) AS s
           |          FROM prep GROUP BY 1),
           |pairs AS (
           |  SELECT y.n_ev - x.n_ev AS dn, y.s - x.s AS ds
           |  FROM daily x JOIN daily y ON x.day < y.day),
           |agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(CASE WHEN (dn > 0 AND ds > 0) OR (dn < 0 AND ds < 0) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           |    CAST(sum(CASE WHEN (dn > 0 AND ds < 0) OR (dn < 0 AND ds > 0) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           |    CAST(sum(CASE WHEN dn = 0 AND ds <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
           |    CAST(sum(CASE WHEN dn <> 0 AND ds = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
           |    CAST(sum(CASE WHEN dn = 0 AND ds = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tb
           |  FROM pairs)
           |SELECT n_pairs, nc, nd, tx, ty, tb,
           |  CAST(nc - nd AS DOUBLE) /
           |    (sqrt(CAST(n_pairs - tx - tb AS DOUBLE)) * sqrt(CAST(n_pairs - ty - tb AS DOUBLE)))
           |    AS tau_b
           |FROM agg WHERE n_pairs > 0""".stripMargin,
      "a34_theil_sen" ->
        s"""WITH prep AS ($prep),
           |daily AS (SELECT ord_us // 86400000000 AS day,
           |                 CAST(sum(cents) AS BIGINT) AS s
           |          FROM prep GROUP BY 1),
           |pairs AS (
           |  SELECT x.day AS d1, y.day AS d2, y.s - x.s AS dy, y.day - x.day AS dx,
           |    CAST(y.s - x.s AS DOUBLE) / CAST(y.day - x.day AS DOUBLE) AS slope
           |  FROM daily x JOIN daily y ON x.day < y.day),
           |o AS (SELECT *, row_number() OVER (ORDER BY slope, d1, d2) AS rn,
           |        count(*) OVER () AS n FROM pairs)
           |SELECT CAST(n AS BIGINT) AS n_pairs, slope AS med_slope, d1, d2, dy, dx
           |FROM o WHERE rn = (n + 1) // 2""".stripMargin,
      "a5_spend_hour_corr" ->
        """SELECT event_type, n, sx, sy, sxy, sxx, syy,
          |  CAST(n * sxy - sx * sy AS DOUBLE) /
          |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
          |    AS corr
          |FROM (
          |  SELECT event_type, count(*) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
          |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
          |          (epoch_us(ts) // 3600000000) % 24 AS y FROM events)
          |  GROUP BY event_type)
          |ORDER BY event_type""".stripMargin,
      "q5_unpivot_spend" -> {
        val wide = Seq("click", "error", "purchase", "signup", "view")
          .map(t =>
            s"CAST(coalesce(sum(CASE WHEN event_type = '$t' THEN cents END), 0) AS BIGINT) AS $t")
          .mkString(",\n    ")
        val arms = Seq("click", "error", "purchase", "signup", "view")
          .map(t => s"SELECT user_id, '$t' AS event_type, $t AS spend_cents FROM w")
          .mkString("\n  UNION ALL ")
        s"""WITH w AS (
           |  SELECT user_id,
           |    $wide
           |  FROM (SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |        FROM events)
           |  GROUP BY user_id)
           |$arms
           |ORDER BY user_id, event_type""".stripMargin
      },
      "w9_session_window" ->
        s"""WITH prep AS ($prep),
           |s1 AS (
           |  SELECT user_id, ord_us, cents,
           |    CASE WHEN lag(ord_us) OVER w IS NULL
           |           OR ord_us - lag(ord_us) OVER w > $SessionGapUs
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM prep
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ord_us)),
           |s2 AS (
           |  SELECT user_id, ord_us, cents,
           |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ord_us
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           |  FROM s1)
           |SELECT user_id, min(ord_us) AS start_us, max(ord_us) AS end_us,
           |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM s2 GROUP BY user_id, session_idx
           |ORDER BY user_id, start_us""".stripMargin,
      "w10_sliding_rollup" ->
        s"""SELECT win_start_us, event_type, count(*) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM (
           |  SELECT (ord_us // ${SlideSecs * 1000000L} - i) * ${SlideSecs * 1000000L} AS win_start_us,
           |         event_type, cents
           |  FROM (SELECT event_type, epoch_us(ts) AS ord_us,
           |          CAST(round(value * 100) AS BIGINT) AS cents FROM events)
           |  CROSS JOIN (SELECT unnest(generate_series(0, ${TumbleSecs / SlideSecs - 1})) AS i))
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "w8_tumbling_rollup" ->
        s"""SELECT ord_us - ord_us % ${TumbleSecs * 1000000L} AS win_start_us, event_type,
           |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM (SELECT event_type, epoch_us(ts) AS ord_us,
           |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "k2_countmin_spend" ->
        s"""WITH prep AS (
           |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
           |js AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS j),
           |sk AS (
           |  SELECT j,
           |    CAST(('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % $CmWidth AS bucket,
           |    CAST(sum(cents) AS BIGINT) AS c
           |  FROM prep CROSS JOIN js GROUP BY 1, 2),
           |kb AS (
           |  SELECT user_id, j,
           |    CAST(('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % $CmWidth AS bucket
           |  FROM (SELECT DISTINCT user_id FROM prep) CROSS JOIN js),
           |est AS (
           |  SELECT user_id, min(coalesce(c, 0)) AS cm_est
           |  FROM kb LEFT JOIN sk USING (j, bucket) GROUP BY 1),
           |ex AS (SELECT user_id, CAST(sum(cents) AS BIGINT) AS exact_cents FROM prep GROUP BY 1)
           |SELECT e.user_id, x.exact_cents, e.cm_est, e.cm_est - x.exact_cents AS over_cents
           |FROM est e JOIN ex x USING (user_id)
           |ORDER BY e.user_id""".stripMargin,
      "s8_group_sample" ->
        s"""SELECT event_type, rnk, event_id, user_id, u8 FROM (
           |  SELECT event_type, event_id, user_id, u8,
           |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY u8, event_id) AS BIGINT) AS rnk
           |  FROM (SELECT event_type, event_id, user_id,
           |          substr(md5('gsmp|' || CAST(event_id AS VARCHAR)), 1, 8) AS u8
           |        FROM events))
           |WHERE rnk <= $GroupSampleK
           |ORDER BY event_type, rnk""".stripMargin,
      "s4_stratified_sample" ->
        """SELECT event_id, user_id, stratum, u8 FROM (
          |  SELECT event_id, user_id, user_id % 4 AS stratum,
          |    substr(md5('smp|' || CAST(event_id AS VARCHAR)), 1, 8) AS u8
          |  FROM events)
          |WHERE (stratum = 0 AND u8 < '80000000')
          |   OR (stratum = 1 AND u8 < '40000000')
          |   OR (stratum = 2 AND u8 < '20000000')
          |ORDER BY event_id""".stripMargin,
      "w16_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ord_us FROM events),
          |f1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ord_us END)
          |                   OVER (PARTITION BY user_id) AS t1 FROM e),
          |f2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ord_us > t1 THEN ord_us END)
          |                   OVER (PARTITION BY user_id) AS t2 FROM f1),
          |f3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ord_us > t2 THEN ord_us END)
          |                   OVER (PARTITION BY user_id) AS t3 FROM f2)
          |SELECT user_id,
          |  coalesce(min(t1), -1) AS t1_us,
          |  coalesce(min(t2), -1) AS t2_us,
          |  coalesce(min(t3), -1) AS t3_us,
          |  CAST(CASE WHEN min(t3) IS NOT NULL THEN 3
          |            WHEN min(t2) IS NOT NULL THEN 2
          |            WHEN min(t1) IS NOT NULL THEN 1
          |            ELSE 0 END AS BIGINT) AS stage
          |FROM f3 GROUP BY user_id ORDER BY user_id""".stripMargin,
      "w17_retention" ->
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ord_us FROM events),
           |f AS (SELECT user_id, min(ord_us) AS first_us FROM e GROUP BY 1)
           |SELECT first_us // $WeekUs AS cohort_week,
           |       ord_us // $WeekUs - first_us // $WeekUs AS week_offset,
           |       count(DISTINCT e.user_id) AS n_users,
           |       count(*) AS n_events
           |FROM e JOIN f USING (user_id)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "w18_scd2_intervals" ->
        """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ord_us FROM events),
          |m AS (SELECT *,
          |        CASE WHEN lag(event_type) OVER w IS NULL
          |                  OR lag(event_type) OVER w != event_type THEN 1 ELSE 0 END AS chg
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ord_us, event_id)),
          |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS run_id
          |      FROM m),
          |g AS (SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
          |        min(ord_us) AS valid_from_us, count(*) AS n_events
          |      FROM r GROUP BY 1, 2, 3)
          |SELECT user_id, run_id, event_type, valid_from_us,
          |  coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id), -1)
          |    AS valid_to_us,
          |  n_events
          |FROM g ORDER BY user_id, run_id""".stripMargin,
      "a8_higher_moments" ->
        """WITH p AS (
          |  SELECT event_type, CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS x
          |  FROM events),
          |s AS (
          |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |         sum(x) AS s1, sum(x*x) AS s2, sum(x*x*x) AS s3, sum(x*x*x*x) AS s4
          |  FROM p GROUP BY 1)
          |SELECT event_type,
          |  CAST(n AS BIGINT) AS n,
          |  CAST(s1 AS BIGINT) AS s1,
          |  CAST(s2 AS BIGINT) AS s2,
          |  CAST(n*s2 - s1*s1 AS VARCHAR) AS m2_num,
          |  CAST(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS VARCHAR) AS m3_num,
          |  CAST(n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 AS VARCHAR)
          |    AS m4_num
          |FROM s ORDER BY event_type""".stripMargin,
      "w19_interval_union" ->
        s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ord_us FROM events),
           |i AS (SELECT user_id, event_id, ord_us, ord_us + $CoverUs AS end_us FROM e),
           |m AS (SELECT *, max(end_us) OVER (PARTITION BY user_id ORDER BY ord_us, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM i),
           |f AS (SELECT *, CASE WHEN prev_max IS NULL OR ord_us > prev_max
           |                     THEN 1 ELSE 0 END AS new_island FROM m),
           |g AS (SELECT *, sum(new_island) OVER (PARTITION BY user_id ORDER BY ord_us, event_id)
           |        AS island FROM f)
           |SELECT user_id, CAST(island AS BIGINT) AS island, min(ord_us) AS start_us,
           |  max(end_us) AS end_us, count(*) AS n_events,
           |  max(end_us) - min(ord_us) AS span_us
           |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "j8_nearest_event" ->
        s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ord_us FROM events),
           |c AS (SELECT event_id AS click_id, user_id, ord_us AS click_us FROM e
           |      WHERE event_type = 'click'),
           |p AS (SELECT event_id AS purchase_id, user_id, ord_us AS purchase_us FROM e
           |      WHERE event_type = 'purchase'),
           |j AS (SELECT c.click_id, c.user_id, c.click_us, p.purchase_id, p.purchase_us,
           |        row_number() OVER (PARTITION BY c.click_id
           |          ORDER BY abs(p.purchase_us - c.click_us), p.purchase_us, p.purchase_id) AS rn
           |      FROM c JOIN p USING (user_id)
           |      WHERE abs(p.purchase_us - c.click_us) <= $NearUs)
           |SELECT click_id, user_id, click_us, purchase_id, purchase_us,
           |  purchase_us - click_us AS delta_us
           |FROM j WHERE rn = 1 ORDER BY click_id""".stripMargin,
      "w20_concurrency" ->
        s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ord_us FROM events),
           |d AS (SELECT event_id, ord_us AS t, 1 AS d FROM e
           |      UNION ALL SELECT event_id, ord_us + $ConcActiveUs, -1 FROM e),
           |r AS (SELECT *, t // $ConcBinUs AS bin,
           |        sum(d) OVER (ORDER BY t, d, event_id) AS run FROM d),
           |g AS (SELECT bin,
           |        CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           |        CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends,
           |        CAST(sum(d) AS BIGINT) AS net_delta,
           |        CAST(max(run) AS BIGINT) AS max_conc
           |      FROM r GROUP BY 1)
           |SELECT bin, bin * $ConcBinUs AS bin_start_us, n_starts, n_ends, net_delta,
           |  max_conc,
           |  CAST(sum(net_delta) OVER (ORDER BY bin) AS BIGINT) AS end_conc
           |FROM g ORDER BY bin""".stripMargin,
      "w21_twap" ->
        s"""WITH prep AS ($prep),
           |nw AS (SELECT max(ord_us) AS hi FROM prep),
           |l AS (SELECT user_id, cents,
           |        coalesce(lead(ord_us) OVER (PARTITION BY user_id ORDER BY ord_us, event_id), hi)
           |          - ord_us AS dur_us
           |      FROM prep CROSS JOIN nw)
           |SELECT user_id, count(*) AS n_events,
           |  CAST(sum(dur_us) AS BIGINT) AS held_us,
           |  CAST(sum(cents * dur_us) AS BIGINT) AS twap_num,
           |  CASE WHEN sum(dur_us) > 0
           |       THEN CAST(sum(cents * dur_us) AS DOUBLE) / CAST(sum(dur_us) AS DOUBLE)
           |       END AS twap_cents
           |FROM l GROUP BY 1 ORDER BY user_id""".stripMargin,
      "w24_ohlc_bars" ->
        s"""WITH prep AS (
           |  SELECT event_id, event_type, epoch_us(ts) AS ord_us,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events),
           |r AS (SELECT event_type, ord_us // $OhlcBarUs AS bin, cents,
           |        row_number() OVER (PARTITION BY event_type, ord_us // $OhlcBarUs
           |                           ORDER BY ord_us, event_id) AS rn_o,
           |        row_number() OVER (PARTITION BY event_type, ord_us // $OhlcBarUs
           |                           ORDER BY ord_us DESC, event_id DESC) AS rn_c
           |      FROM prep)
           |SELECT event_type, bin * $OhlcBarUs AS bar_start_us,
           |  CAST(max(CASE WHEN rn_o = 1 THEN cents END) AS BIGINT) AS open_cents,
           |  CAST(max(cents) AS BIGINT) AS high_cents,
           |  CAST(min(cents) AS BIGINT) AS low_cents,
           |  CAST(max(CASE WHEN rn_c = 1 THEN cents END) AS BIGINT) AS close_cents,
           |  count(*) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1, 2 ORDER BY event_type, bar_start_us""".stripMargin,
      "q17_rollup_merge" ->
        s"""WITH e AS (
           |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
           |SELECT user_id, count(*) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(min(cents) AS BIGINT) AS min_cents,
           |  CAST(max(cents) AS BIGINT) AS max_cents
           |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin,
      "a15_ab_test" ->
        s"""WITH g AS (
           |  SELECT event_type, count(*) AS n,
           |    CAST(sum(cents) AS BIGINT) AS sx,
           |    CAST(sum(cents * cents) AS BIGINT) AS sxx
           |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |        FROM events WHERE event_type IN ('purchase', 'click'))
           |  GROUP BY 1),
           |a AS (SELECT n AS n_a, sx AS sx_a, sxx AS sxx_a FROM g WHERE event_type = 'purchase'),
           |b AS (SELECT n AS n_b, sx AS sx_b, sxx AS sxx_b FROM g WHERE event_type = 'click'),
           |m AS (
           |  SELECT *,
           |    sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
           |    (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) AS var_a,
           |    (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) AS var_b
           |  FROM a CROSS JOIN b)
           |SELECT n_a, sx_a, sxx_a, n_b, sx_b, sxx_b, mean_a, mean_b, var_a, var_b,
           |  (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat
           |FROM m""".stripMargin,
      "j10_scd2_lookup" ->
        s"""WITH p AS (
           |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ord_us FROM events),
           |s AS (
           |  SELECT user_id, ord_us, event_type, event_id,
           |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS prev
           |  FROM p WHERE event_type != 'purchase'),
           |rs AS (
           |  SELECT user_id, ord_us AS state_from_us, event_type AS state
           |  FROM (
           |    SELECT user_id, ord_us, event_type, event_id,
           |      row_number() OVER (PARTITION BY user_id, ord_us ORDER BY event_id DESC) AS dup_rk
           |    FROM s WHERE prev IS NULL OR prev != event_type)
           |  WHERE dup_rk = 1),
           |f AS (SELECT event_id, user_id, ord_us FROM p WHERE event_type = 'purchase')
           |SELECT f.event_id, f.user_id, f.ord_us,
           |  rs.state_from_us, rs.state,
           |  f.ord_us - rs.state_from_us AS state_age_us
           |FROM f ASOF LEFT JOIN rs
           |  ON f.user_id = rs.user_id AND f.ord_us >= rs.state_from_us
           |ORDER BY f.event_id""".stripMargin,
      // j12: the identical run/interval/changes construction, the apply
      // as a FULL OUTER join with the same three outcome branches
      "j12_scd2_apply" ->
        s"""WITH p AS (
           |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ord_us
           |  FROM events WHERE event_type != 'purchase'),
           |runs AS (
           |  SELECT user_id, event_type AS state, ord_us AS valid_from_us, event_id
           |  FROM (
           |    SELECT user_id, event_type, ord_us, event_id,
           |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS prev
           |    FROM p WHERE ord_us < $SnapT1Us)
           |  WHERE prev IS NULL OR prev != event_type),
           |dim AS (
           |  SELECT user_id, state, valid_from_us,
           |    coalesce(lead(valid_from_us) OVER (
           |      PARTITION BY user_id ORDER BY valid_from_us, event_id), -1) AS valid_to_us
           |  FROM runs),
           |chg AS (
           |  SELECT user_id, event_type AS new_state, ord_us AS chg_us
           |  FROM (
           |    SELECT user_id, event_type, ord_us,
           |      row_number() OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS rk
           |    FROM p WHERE ord_us >= $SnapT1Us)
           |  WHERE rk = 1),
           |opn AS (SELECT * FROM dim WHERE valid_to_us = -1),
           |closedh AS (
           |  SELECT user_id, state, valid_from_us, valid_to_us FROM dim WHERE valid_to_us != -1),
           |j AS (
           |  SELECT coalesce(o.user_id, c.user_id) AS user_id,
           |    o.state, o.valid_from_us, c.new_state, c.chg_us
           |  FROM opn o FULL OUTER JOIN chg c ON o.user_id = c.user_id),
           |res AS (
           |  SELECT user_id, state, valid_from_us, valid_to_us FROM closedh
           |  UNION ALL
           |  SELECT user_id, state, valid_from_us, -1 FROM j
           |  WHERE state IS NOT NULL AND (new_state IS NULL OR new_state = state)
           |  UNION ALL
           |  SELECT user_id, state, valid_from_us, chg_us FROM j
           |  WHERE state IS NOT NULL AND new_state IS NOT NULL AND new_state != state
           |  UNION ALL
           |  SELECT user_id, new_state, chg_us, -1 FROM j
           |  WHERE new_state IS NOT NULL AND (state IS NULL OR new_state != state))
           |SELECT user_id, state, CAST(valid_from_us AS BIGINT) AS valid_from_us,
           |  CAST(valid_to_us AS BIGINT) AS valid_to_us,
           |  CAST(CASE WHEN valid_to_us = -1 THEN 1 ELSE 0 END AS BIGINT) AS is_current
           |FROM res ORDER BY user_id, valid_from_us, state""".stripMargin,
      "w26_day_streaks" ->
        s"""WITH d AS (
           |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
           |g AS (
           |  SELECT user_id, day,
           |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
           |  FROM d),
           |st AS (
           |  SELECT user_id, grp, count(*) AS len, min(day) AS streak_start_day
           |  FROM g GROUP BY 1, 2)
           |SELECT user_id,
           |  CAST(sum(len) AS BIGINT) AS n_active_days,
           |  count(*) AS n_streaks,
           |  CAST(max(len) AS BIGINT) AS longest_streak,
           |  CAST(min(streak_start_day) AS BIGINT) AS first_day
           |FROM st GROUP BY 1 ORDER BY user_id""".stripMargin,
      "q15_grouping_sets" ->
        s"""WITH e AS (
           |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events)
           |SELECT event_type, day,
           |  CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
           |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM e
           |GROUP BY GROUPING SETS ((event_type), (day), ())
           |ORDER BY gid, event_type, day""".stripMargin,
      "a14_benford" ->
        s"""WITH e AS (
           |  SELECT event_type,
           |         CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM events
           |  WHERE CAST(round(value * 100) AS BIGINT) > 0),
           |g AS (SELECT event_type, digit, count(*) AS n FROM e GROUP BY 1, 2)
           |SELECT event_type, digit, n,
           |  CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_type,
           |  n / sum(n) OVER (PARTITION BY event_type) AS share
           |FROM g ORDER BY event_type, digit""".stripMargin,
      "w27_rank_position" ->
        s"""WITH t AS (
           |  SELECT event_type, user_id,
           |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
           |  FROM events GROUP BY 1, 2)
           |SELECT event_type, user_id, total_cents,
           |  percent_rank() OVER w AS pct_rank,
           |  cume_dist() OVER w AS cdist,
           |  CAST(ntile(10) OVER w AS BIGINT) AS decile
           |FROM t
           |WINDOW w AS (PARTITION BY event_type ORDER BY total_cents, user_id)
           |ORDER BY event_type, user_id""".stripMargin,
      "a16_gini_spend" ->
        s"""WITH t AS (
           |  SELECT event_type, user_id,
           |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
           |  FROM events GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, x,
           |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS BIGINT) AS i
           |  FROM t),
           |g AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
           |         CAST(sum(x) AS BIGINT) AS sum_cents,
           |         CAST(sum(x * i) AS BIGINT) AS weighted
           |  FROM r GROUP BY 1)
           |SELECT event_type, n_users, sum_cents, weighted,
           |  (((2 * weighted - (n_users + 1) * sum_cents) // n_users) * 1000000) // sum_cents AS gini_x1e6
           |FROM g ORDER BY event_type""".stripMargin,
      "s10_balanced_sample" ->
        s"""WITH e AS (
           |  SELECT event_id, event_type,
           |         CAST(round(value * 100) AS BIGINT) AS cents,
           |         md5('bal|' || CAST(event_id AS VARCHAR)) AS draw
           |  FROM events),
           |r AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY event_type ORDER BY draw, event_id) AS BIGINT) AS rk
           |  FROM e),
           |cap AS (
           |  SELECT CAST(min(n_class) AS BIGINT) AS cap
           |  FROM (SELECT event_type, count(*) AS n_class FROM e GROUP BY 1))
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled,
           |       CAST(sum(cents) AS BIGINT) AS sum_cents_sampled
           |FROM r CROSS JOIN cap WHERE rk <= cap
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "a17_type_diversity" ->
        s"""WITH c AS (
           |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |u AS (
           |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
           |         CAST(count(*) AS BIGINT) AS n_types,
           |         CAST(sum(c * c) AS BIGINT) AS sum_sq
           |  FROM c GROUP BY 1)
           |SELECT user_id, n_events, n_types, sum_sq,
           |  ((n_events * n_events - sum_sq) * 1000000) // (n_events * n_events) AS impurity_x1e6
           |FROM u ORDER BY user_id""".stripMargin,
      "x3_schema_evolution" ->
        """SELECT channel, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |  CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM (
          |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
          |    CASE WHEN event_id % 2 = 1 THEN
          |      CASE user_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'app' ELSE 'api' END
          |    ELSE 'legacy' END AS channel
          |  FROM events)
          |GROUP BY channel
          |ORDER BY channel""".stripMargin,
      "x4_time_travel" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(1, 3)) AS version)
           |SELECT CAST(v.version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           |  CAST(sum(p.cents) AS BIGINT) AS sum_cents,
           |  CAST(min(p.event_id) AS BIGINT) AS min_event_id,
           |  CAST(max(p.event_id) AS BIGINT) AS max_event_id
           |FROM v JOIN prep p ON
           |     (v.version = 1 AND p.event_id % 3 = 0)
           |  OR (v.version = 2 AND p.event_id % 3 IN (0, 1))
           |  OR (v.version = 3 AND p.event_id % 3 = 2)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x5_zone_map_skip" ->
        s"""WITH prep AS ($prep)
           |SELECT CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(min(cents) AS BIGINT) AS min_cents,
           |  CAST(max(cents) AS BIGINT) AS max_cents
           |FROM prep WHERE cents BETWEEN 1000 AND 4999""".stripMargin,
      "x6_row_delete" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(1, 2)) AS version)
           |SELECT CAST(v.version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(p.cents) AS BIGINT) AS sum_cents,
           |  CAST(sum(CASE WHEN p.cents BETWEEN 1000 AND 4999 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range
           |FROM v JOIN prep p
           |  ON v.version = 1 OR p.cents NOT BETWEEN 1000 AND 4999
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x22_mor_delete" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(1, 3)) AS version)
           |SELECT CAST(v.version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(p.cents) AS BIGINT) AS sum_cents,
           |  CAST(sum(CASE WHEN p.cents BETWEEN 1000 AND 4999 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range
           |FROM v JOIN prep p
           |  ON v.version = 1 OR p.cents NOT BETWEEN 1000 AND 4999
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x7_vacuum_read" ->
        s"""WITH prep AS ($prep)
           |SELECT CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(sum(CASE WHEN cents BETWEEN 1000 AND 4999 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range
           |FROM prep WHERE cents NOT BETWEEN 1000 AND 4999""".stripMargin,
      "x8_merge_upsert" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(1, 2)) AS version),
           |r AS (
           |  SELECT v.version, p.user_id,
           |    CASE WHEN v.version = 2 AND (p.event_id % 5 = 0 OR p.event_id % 3 = 2)
           |         THEN p.cents + 1000000000 ELSE p.cents END AS cents
           |  FROM v JOIN prep p
           |    ON v.version = 2 OR p.event_id % 3 <> 2)
           |SELECT CAST(version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(sum(CASE WHEN cents >= 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_modified
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
      "x26_merge_mor" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(1, 3)) AS version),
           |r AS (
           |  SELECT v.version, p.user_id,
           |    CASE WHEN v.version >= 2 AND (p.event_id % 5 = 0 OR p.event_id % 3 = 2)
           |         THEN p.cents + 1000000000 ELSE p.cents END AS cents
           |  FROM v JOIN prep p
           |    ON v.version >= 2 OR p.event_id % 3 <> 2)
           |SELECT CAST(version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(sum(CASE WHEN cents >= 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_modified
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
      "x27_bloom_lookup" ->
        s"""WITH prep AS ($prep),
           |m AS (SELECT max(event_id) AS mx FROM prep)
           |SELECT p.event_id, p.user_id, p.cents
           |FROM prep p, m
           |WHERE p.event_id = m.mx OR p.event_id = m.mx // 2 OR p.event_id = m.mx + 1
           |ORDER BY p.event_id""".stripMargin,
      "x9_optimize" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(3, 4)) AS version)
           |SELECT CAST(v.version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           |  CAST(sum(p.cents) AS BIGINT) AS sum_cents,
           |  CAST(min(p.event_id) AS BIGINT) AS min_event_id,
           |  CAST(max(p.event_id) AS BIGINT) AS max_event_id
           |FROM v JOIN prep p ON true
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x12_incremental_read" ->
        s"""WITH prep AS ($prep),
           |f AS (SELECT unnest(generate_series(1, 3)) AS from_version)
           |SELECT CAST(f.from_version AS BIGINT) AS from_version,
           |  CAST(count(p.event_id) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           |  CAST(coalesce(sum(p.cents), 0) AS BIGINT) AS sum_cents
           |FROM f LEFT JOIN prep p
           |  ON (f.from_version = 1 AND p.event_id % 3 IN (1, 2))
           |  OR (f.from_version = 2 AND p.event_id % 3 = 2)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // x23: the stream must deliver exactly the batch append-diff — the
      // oracle is x12's derivation verbatim
      "x23_stream_tail" ->
        s"""WITH prep AS ($prep),
           |f AS (SELECT unnest(generate_series(1, 3)) AS from_version)
           |SELECT CAST(f.from_version AS BIGINT) AS from_version,
           |  CAST(count(p.event_id) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           |  CAST(coalesce(sum(p.cents), 0) AS BIGINT) AS sum_cents
           |FROM f LEFT JOIN prep p
           |  ON (f.from_version = 1 AND p.event_id % 3 IN (1, 2))
           |  OR (f.from_version = 2 AND p.event_id % 3 = 2)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x13_restore" ->
        s"""WITH prep AS ($prep),
           |v AS (SELECT unnest(generate_series(2, 4)) AS version)
           |SELECT CAST(v.version AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           |  CAST(sum(p.cents) AS BIGINT) AS sum_cents,
           |  CAST(min(p.event_id) AS BIGINT) AS min_event_id,
           |  CAST(max(p.event_id) AS BIGINT) AS max_event_id
           |FROM v JOIN prep p ON
           |     (v.version IN (2, 4) AND p.event_id % 3 IN (0, 1))
           |  OR (v.version = 3 AND p.event_id % 3 = 2)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // the refusal flag and the post-refusal table state are DERIVED
      // (CASE WHEN violations > 0), never assumed — an enforcement hole
      // that let the poisoned batch through diverges table_rows/sum
      "x15_checked_commit" ->
        s"""WITH prep AS ($prep),
           |odd AS (
           |  SELECT event_id, user_id,
           |    CASE WHEN event_id % 5 = 0 THEN cents + 1000000000 ELSE cents END AS cents
           |  FROM prep WHERE event_id % 2 = 1),
           |viol AS (
           |  SELECT 'cents_nonneg' AS row_key,
           |    CAST(coalesce(sum(CASE WHEN NOT (cents >= 0) THEN 1 ELSE 0 END), 0) AS BIGINT) AS metric
           |  FROM odd
           |  UNION ALL
           |  SELECT 'cents_sane',
           |    CAST(coalesce(sum(CASE WHEN NOT (cents < 1000000000) THEN 1 ELSE 0 END), 0) AS BIGINT)
           |  FROM odd
           |  UNION ALL
           |  SELECT 'user_present',
           |    CAST(coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           |  FROM odd),
           |flag AS (
           |  SELECT CAST(CASE WHEN (SELECT sum(metric) FROM viol) > 0 THEN 1 ELSE 0 END AS BIGINT)
           |    AS refused)
           |SELECT row_key, metric FROM (
           |  SELECT row_key, metric FROM viol
           |  UNION ALL SELECT 'commit_refused', refused FROM flag
           |  UNION ALL
           |  SELECT 'table_rows', CAST(CASE WHEN (SELECT refused FROM flag) = 1
           |    THEN (SELECT count(*) FROM prep WHERE event_id % 2 = 0)
           |    ELSE (SELECT count(*) FROM prep WHERE event_id % 2 = 0)
           |       + (SELECT count(*) FROM odd) END AS BIGINT)
           |  UNION ALL
           |  SELECT 'table_sum_cents', CAST(CASE WHEN (SELECT refused FROM flag) = 1
           |    THEN (SELECT sum(cents) FROM prep WHERE event_id % 2 = 0)
           |    ELSE (SELECT sum(cents) FROM prep WHERE event_id % 2 = 0)
           |       + (SELECT sum(cents) FROM odd) END AS BIGINT))
           |ORDER BY row_key""".stripMargin,
      // x16: the tagged snapshot (v2 = thirds 0+1) must survive the
      // vacuum below keepFrom; latest is v3's thirds = 2
      "x16_snapshot_tags" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 'training' AS ref, user_id, cents FROM prep WHERE event_id % 3 IN (0, 1)
           |  UNION ALL
           |  SELECT 'latest', user_id, cents FROM prep WHERE event_id % 3 = 2)
           |SELECT ref, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1 ORDER BY ref""".stripMargin,
      // x17: one derivation of the post-mutation table feeds BOTH method
      // rows — the incremental path must land exactly on the direct one
      // x18: every emitted value rides the METADATA path in the engine;
      // the oracle derives each from the raw table, so a stale per-file
      // row count or a loose zone-map bound diverges the hash
      "x18_metadata_agg" ->
        s"""WITH prep AS ($prep),
           |v3 AS (SELECT cents FROM prep WHERE cents NOT BETWEEN 1000 AND 4999)
           |SELECT metric, value FROM (
           |  SELECT 'total_v1' AS metric, CAST(count(*) AS BIGINT) AS value
           |  FROM prep WHERE event_id % 3 <> 2
           |  UNION ALL SELECT 'total_v2', CAST(count(*) AS BIGINT) FROM prep
           |  UNION ALL SELECT 'total_v3', CAST(count(*) AS BIGINT) FROM v3
           |  UNION ALL SELECT 'rows_in_range_v2', CAST(count(*) AS BIGINT)
           |  FROM prep WHERE cents BETWEEN 5000 AND 99999
           |  UNION ALL SELECT 'min_cents_v3', CAST(min(cents) AS BIGINT) FROM v3
           |  UNION ALL SELECT 'max_cents_v3', CAST(max(cents) AS BIGINT) FROM v3)
           |ORDER BY metric""".stripMargin,
      // x19: three surfaces, one truth each — the source keeps the
      // clone-deleted cents range plus its own appended keys, the clone
      // applies the delete but never sees the source append, and the
      // clone's v1 stays the frozen source snapshot
      "x19_shallow_clone" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 'src_latest' AS ref, user_id, cents FROM prep
           |  UNION ALL
           |  SELECT 'src_latest', user_id, cents FROM prep WHERE event_id % 11 = 0
           |  UNION ALL
           |  SELECT 'clone_latest', user_id, cents FROM prep
           |  WHERE cents NOT BETWEEN 1000 AND 4999
           |  UNION ALL
           |  SELECT 'clone_v1', user_id, cents FROM prep)
           |SELECT ref, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1 ORDER BY ref""".stripMargin,
      // x20: v1 = the first landing (thirds 0+1); latest = everything —
      // a double-ingested file inflates a count, a missed one deflates
      "x20_copy_into" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 'v1' AS ref, user_id, cents FROM prep WHERE event_id % 3 <> 2
           |  UNION ALL
           |  SELECT 'latest', user_id, cents FROM prep)
           |SELECT ref, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1 ORDER BY ref""".stripMargin,
      "x17_incremental_agg" ->
        s"""WITH prep AS ($prep),
           |rows_v3 AS (
           |  SELECT user_id, cents FROM (
           |    SELECT user_id,
           |      cents + CASE WHEN event_id % 7 = 0 THEN 1000000000 ELSE 0 END AS cents
           |    FROM prep WHERE event_id % 3 <> 2
           |    UNION ALL
           |    SELECT user_id, cents + 1000000000 FROM prep
           |    WHERE event_id % 7 = 0 AND event_id % 3 = 2
           |    UNION ALL
           |    SELECT user_id, cents FROM prep WHERE event_id % 11 = 0)
           |  WHERE cents NOT BETWEEN 1000 AND 4999),
           |final AS (
           |  SELECT user_id, cents FROM rows_v3
           |  UNION ALL
           |  SELECT user_id, cents FROM prep
           |  WHERE event_id % 3 = 2 AND event_id % 7 <> 0),
           |m AS (SELECT unnest(['direct', 'incremental']) AS method)
           |SELECT m.method, CAST(user_id % 16 AS BIGINT) AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM m CROSS JOIN final
           |GROUP BY 1, 2 ORDER BY method, bucket""".stripMargin,
      "x14_change_feed" ->
        s"""WITH prep AS ($prep),
           |ch AS (
           |  SELECT 2 AS version, 'insert' AS change_type, user_id, cents
           |  FROM prep WHERE event_id % 3 = 2
           |  UNION ALL
           |  SELECT 3, 'update_preimage', user_id, cents
           |  FROM prep WHERE event_id % 7 = 0
           |  UNION ALL
           |  SELECT 3, 'update_postimage', user_id, cents + 1000000000
           |  FROM prep WHERE event_id % 7 = 0
           |  UNION ALL
           |  SELECT 3, 'insert', user_id, cents
           |  FROM prep WHERE event_id % 11 = 0
           |  UNION ALL
           |  SELECT 4, 'delete', user_id, cents
           |  FROM prep WHERE event_id % 7 <> 0 AND cents BETWEEN 1000 AND 4999
           |  UNION ALL
           |  SELECT 4, 'delete', user_id, cents
           |  FROM prep WHERE event_id % 11 = 0 AND cents BETWEEN 1000 AND 4999)
           |SELECT CAST(version AS BIGINT) AS version, change_type,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "x11_schema_travel" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 1 AS version, 'legacy' AS channel, user_id, cents
           |  FROM prep WHERE event_id % 3 <> 2
           |  UNION ALL
           |  SELECT 2,
           |    CASE WHEN event_id % 3 = 2 THEN
           |      CASE user_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'app' ELSE 'api' END
           |    ELSE 'legacy' END,
           |    user_id, cents
           |  FROM prep)
           |SELECT CAST(version AS BIGINT) AS version, channel,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "x21_column_rename" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 1 AS version, -1 AS third, user_id, cents
           |  FROM prep WHERE event_id % 3 <> 2
           |  UNION ALL
           |  SELECT 3, event_id % 3, user_id, cents FROM prep)
           |SELECT CAST(version AS BIGINT) AS version, CAST(third AS BIGINT) AS third,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // x25: v1 groups by the legacy flag (pre-drop generation), v3 by
      // thirds with the column gone — both derived from the base table
      "x25_drop_column" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 1 AS version, event_id % 2 AS key, user_id, cents
           |  FROM prep WHERE event_id % 3 <> 2
           |  UNION ALL
           |  SELECT 3, event_id % 3, user_id, cents FROM prep)
           |SELECT CAST(version AS BIGINT) AS version, CAST(key AS BIGINT) AS key,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // x24: x21's SQL shape verbatim — a type widening is
      // value-invariant by contract, so the same per-version aggregates
      // pin the lifecycle; the TYPE discipline is SnapshotsSpec's job
      "x24_type_widening" ->
        s"""WITH prep AS ($prep),
           |r AS (
           |  SELECT 1 AS version, -1 AS third, user_id, cents
           |  FROM prep WHERE event_id % 3 <> 2
           |  UNION ALL
           |  SELECT 3, event_id % 3, user_id, cents FROM prep)
           |SELECT CAST(version AS BIGINT) AS version, CAST(third AS BIGINT) AS third,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // LEFT join from the dim spine (the x12 convention): a dimension
      // matching zero rows at a tiny SF must still emit its zero row,
      // exactly as the Spark side's whole-frame agg does
      "x10_multi_zone" ->
        s"""WITH prep AS ($prep),
           |d AS (SELECT 'user_id' AS dim UNION ALL SELECT 'cents')
           |SELECT d.dim,
           |  CAST(count(p.event_id) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           |  CAST(sum(p.cents) AS BIGINT) AS sum_cents,
           |  CAST(min(p.event_id) AS BIGINT) AS min_event_id,
           |  CAST(max(p.event_id) AS BIGINT) AS max_event_id
           |FROM d LEFT JOIN prep p
           |  ON (d.dim = 'user_id' AND p.user_id BETWEEN 100 AND 299)
           |  OR (d.dim = 'cents' AND p.cents BETWEEN 1000 AND 4999)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "x1_partitioned_scan" ->
        """SELECT event_type,
          |  count(*) AS n_events,
          |  count(DISTINCT user_id) AS n_users,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          |  min(epoch_us(ts)) AS first_us,
          |  max(epoch_us(ts)) AS last_us
          |FROM events WHERE event_type IN ('purchase', 'error')
          |GROUP BY 1 ORDER BY event_type""".stripMargin,
      "a19_drift_chi2" ->
        s"""WITH b AS (
           |  SELECT event_type,
           |    CAST(round(value * 100) AS BIGINT) // 1000 AS spend_band,
           |    CASE WHEN epoch_us(ts) < ${SnapT1Us} THEN 1 ELSE 0 END AS w1
           |  FROM events),
           |g AS (
           |  SELECT event_type, spend_band,
           |    CAST(sum(w1) AS BIGINT) AS c1,
           |    CAST(sum(1 - w1) AS BIGINT) AS c2
           |  FROM b GROUP BY 1, 2),
           |t AS (
           |  SELECT event_type, spend_band, c1, c2,
           |    CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS m,
           |    CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n
           |  FROM g),
           |d AS (
           |  SELECT *, CAST(CAST(n AS HUGEINT) * c1 - CAST(m AS HUGEINT) * c2 AS DOUBLE) AS diff_d,
           |    CAST(CAST(m AS HUGEINT) * n * (c1 + c2) AS DOUBLE) AS den_d
           |  FROM t)
           |SELECT event_type, spend_band, c1, c2, m, n,
           |  diff_d * diff_d / den_d AS chi2_term
           |FROM d ORDER BY event_type, spend_band""".stripMargin,
      "w28_gap_histogram" ->
        s"""WITH e AS (
           |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
           |l AS (
           |  SELECT event_type, us,
           |    lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
           |  FROM e),
           |g AS (
           |  SELECT event_type, (us - prev_us) // 1000000 AS gap_s
           |  FROM l WHERE prev_us IS NOT NULL)
           |SELECT event_type,
           |  CASE WHEN gap_s <= 0 THEN 0
           |       ELSE CAST(length(bin(gap_s)) AS BIGINT) END AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_gaps,
           |  CAST(sum(gap_s) AS BIGINT) AS sum_gap_s
           |FROM g GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
      "a18_k_anonymity" ->
        s"""WITH qi AS (
           |  SELECT event_type,
           |    (epoch_us(ts) // 3600000000) % 24 AS hour,
           |    CAST(round(value * 100) AS BIGINT) // 1000 AS spend_band
           |  FROM events),
           |cls AS (
           |  SELECT event_type, hour, spend_band, CAST(count(*) AS BIGINT) AS s
           |  FROM qi GROUP BY 1, 2, 3),
           |banded AS (
           |  SELECT s,
           |    CASE WHEN s = 1 THEN '1' WHEN s < 5 THEN '2-4'
           |         WHEN s < 10 THEN '5-9' ELSE '10+' END AS k_band
           |  FROM cls)
           |SELECT k_band, CAST(count(*) AS BIGINT) AS n_classes,
           |       CAST(sum(s) AS BIGINT) AS n_rows
           |FROM banded GROUP BY 1 ORDER BY k_band""".stripMargin,
      "q19_snapshot_diff" ->
        s"""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS us,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events WHERE epoch_us(ts) < ${SnapT2Us}),
           |g AS (
           |  SELECT user_id,
           |    CAST(sum(CASE WHEN us < ${SnapT1Us} THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(sum(CASE WHEN us < ${SnapT1Us} THEN cents ELSE 0 END) AS BIGINT) AS c1,
           |    CAST(count(*) AS BIGINT) AS n2,
           |    CAST(sum(cents) AS BIGINT) AS c2
           |  FROM e GROUP BY 1)
           |SELECT user_id,
           |  CASE WHEN n1 = 0 THEN 'added'
           |       WHEN n2 = n1 AND c2 = c1 THEN 'unchanged'
           |       ELSE 'changed' END AS status,
           |  n2 - n1 AS delta_n, c2 - c1 AS delta_cents
           |FROM g ORDER BY user_id""".stripMargin,
      "f13_target_encoding" ->
        s"""WITH e AS (
           |  SELECT event_id, event_type AS et,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events)
           |SELECT event_id, et AS event_type, cents,
           |  CAST(sum(cents) OVER w - cents AS BIGINT) AS loo_num,
           |  CAST(count(*) OVER w - 1 AS BIGINT) AS loo_den,
           |  CASE WHEN count(*) OVER w > 1
           |       THEN (sum(cents) OVER w - cents) / (count(*) OVER w - 1) END AS loo_mean
           |FROM e
           |WINDOW w AS (PARTITION BY et)
           |ORDER BY event_id""".stripMargin,
      "q16_user_journey" ->
        s"""WITH p AS (
           |  SELECT user_id, event_type, epoch_us(ts) AS ord_us, event_id FROM events),
           |r AS (SELECT user_id, event_type,
           |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS BIGINT) AS rn,
           |        count(*) OVER (PARTITION BY user_id) AS n_events
           |      FROM p)
           |SELECT user_id, max(n_events) AS n_events,
           |  string_agg(event_type, '>' ORDER BY rn) AS journey
           |FROM r WHERE rn <= $JourneyCap
           |GROUP BY 1 ORDER BY user_id""".stripMargin,
      "j9_overlap_join" ->
        s"""WITH p AS (
           |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ord_us FROM events),
           |a AS (SELECT user_id, event_id AS a_id, ord_us AS a_s,
           |        ord_us + $J9ADurUs AS a_e
           |      FROM p WHERE event_type = 'signup'),
           |b AS (SELECT user_id, event_id AS b_id, ord_us AS b_s,
           |        ord_us + $J9BDurUs AS b_e
           |      FROM p WHERE event_type = 'error')
           |SELECT a.user_id, a_id, b_id,
           |  least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us
           |FROM a JOIN b ON a.user_id = b.user_id AND a_s < b_e AND b_s < a_e
           |ORDER BY a_id, b_id""".stripMargin,
      "w25_active_users_7d" ->
        s"""WITH p AS (
           |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
           |days AS (
           |  SELECT unnest(generate_series((SELECT min(day) FROM p),
           |                                (SELECT max(day) FROM p))) AS report_day)
           |SELECT report_day, report_day * $DayUs AS day_start_us,
           |  count(DISTINCT user_id) AS n_active
           |FROM days d JOIN p ON p.day BETWEEN d.report_day - 6 AND d.report_day
           |GROUP BY 1, 2 ORDER BY report_day""".stripMargin,
      "a13_quantile_binning" ->
        s"""WITH e AS (
           |  SELECT event_id, event_type,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events),
           |r AS (SELECT event_type, event_id, cents,
           |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
           |        count(*) OVER (PARTITION BY event_type) AS n
           |      FROM e),
           |qs AS (SELECT event_type,
           |        max(CASE WHEN rn = (25 * n + 99) // 100 THEN cents END) AS q25,
           |        max(CASE WHEN rn = (50 * n + 99) // 100 THEN cents END) AS q50,
           |        max(CASE WHEN rn = (75 * n + 99) // 100 THEN cents END) AS q75
           |      FROM r GROUP BY 1)
           |SELECT e.event_type,
           |  CAST(1 + (CASE WHEN cents > q25 THEN 1 ELSE 0 END)
           |    + (CASE WHEN cents > q50 THEN 1 ELSE 0 END)
           |    + (CASE WHEN cents > q75 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
           |  count(*) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(min(cents) AS BIGINT) AS min_cents,
           |  CAST(max(cents) AS BIGINT) AS max_cents
           |FROM e JOIN qs ON e.event_type = qs.event_type
           |GROUP BY 1, 2 ORDER BY e.event_type, bucket""".stripMargin,
      "a9_user_trend" ->
        s"""WITH prep AS ($prep),
           |lo AS (SELECT min(ord_us) AS lo FROM prep),
           |p AS (SELECT user_id, (ord_us - lo) // 3600000000 AS x, cents AS y
           |      FROM prep CROSS JOIN lo),
           |s AS (SELECT user_id, count(*) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
           |      FROM p GROUP BY 1)
           |SELECT user_id, n, sx, sy, sxy, sxx,
           |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           |  CASE WHEN n * sxx - sx * sx > 0
           |       THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
           |       END AS slope_cph
           |FROM s ORDER BY user_id""".stripMargin,
      "k4_kmv_setops" -> {
        val scale = (KmvK - 1).toLong * 4294967296L
        s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
           |dh AS (SELECT event_type, user_id,
           |        CAST(('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
           |       FROM du),
           |ty AS (SELECT DISTINCT event_type FROM du),
           |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
           |          FROM ty a JOIN ty b ON a.event_type < b.event_type),
           |kept AS (SELECT event_type, hv FROM (
           |    SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
           |    FROM dh) WHERE r <= $KmvK),
           |merged AS (
           |  SELECT type_a, type_b, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
           |    SELECT p.type_a, p.type_b, k.hv, 1 AS in_a, 0 AS in_b
           |    FROM pairs p JOIN kept k ON k.event_type = p.type_a
           |    UNION ALL
           |    SELECT p.type_a, p.type_b, k.hv, 0, 1
           |    FROM pairs p JOIN kept k ON k.event_type = p.type_b)
           |  GROUP BY 1, 2, 3),
           |sk AS (
           |  SELECT type_a, type_b, count(*) AS m_union, max(hv) AS hk_union,
           |         CAST(sum(in_a * in_b) AS BIGINT) AS k_common
           |  FROM (SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS r
           |        FROM merged)
           |  WHERE r <= $KmvK GROUP BY 1, 2),
           |est AS (
           |  SELECT *, CASE WHEN m_union < $KmvK THEN m_union
           |                 ELSE $scale // hk_union END AS est_union
           |  FROM sk),
           |ex AS (
           |  SELECT type_a, type_b, count(*) AS exact_union,
           |         CAST(sum(in_a * in_b) AS BIGINT) AS exact_inter FROM (
           |    SELECT type_a, type_b, u, max(in_a) AS in_a, max(in_b) AS in_b FROM (
           |      SELECT p.type_a, p.type_b, d.user_id AS u, 1 AS in_a, 0 AS in_b
           |      FROM pairs p JOIN du d ON d.event_type = p.type_a
           |      UNION ALL
           |      SELECT p.type_a, p.type_b, d.user_id, 0, 1
           |      FROM pairs p JOIN du d ON d.event_type = p.type_b)
           |    GROUP BY 1, 2, 3)
           |  GROUP BY 1, 2)
           |SELECT type_a, type_b, m_union, hk_union, k_common, est_union,
           |  (k_common * est_union) // m_union AS est_inter, exact_union, exact_inter
           |FROM est JOIN ex USING (type_a, type_b) ORDER BY type_a, type_b""".stripMargin
      },
      "k5_hll_distinct" -> {
        val fieldMod = 1L << HllFieldBits
        val scale = 1L << (HllFieldBits + 1)
        s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
           |h AS (SELECT day, user_id,
           |        CAST(('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
           |      FROM e),
           |r AS (SELECT day, hv // $fieldMod AS j, hv % $fieldMod AS w FROM h),
           |rho AS (SELECT day, j,
           |          CASE WHEN w = 0 THEN ${HllFieldBits + 1}
           |               ELSE ${HllFieldBits + 1} - length(bin(w)) END AS rho
           |        FROM r),
           |regs AS (SELECT day, j, CAST(max(rho) AS BIGINT) AS m_j FROM rho GROUP BY 1, 2),
           |s AS (SELECT day, count(*) AS m_seen,
           |        CAST(sum(1::BIGINT << (${HllFieldBits + 1} - m_j)) AS BIGINT) AS s_seen
           |      FROM regs GROUP BY 1),
           |x AS (SELECT day, m_seen, $HllM - m_seen AS v_zero,
           |        s_seen + ($HllM - m_seen) * $scale AS s_scaled FROM s),
           |ex AS (SELECT day, count(DISTINCT user_id) AS exact_nd FROM e GROUP BY 1)
           |SELECT day, m_seen, v_zero, s_scaled,
           |  (709::BIGINT * $HllM * $HllM * $scale) // (1000 * s_scaled) AS est_hll, exact_nd
           |FROM x JOIN ex USING (day) ORDER BY day""".stripMargin
      },
      "w22_transition_matrix" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ord_us, event_type FROM events),
          |b AS (SELECT event_type AS from_type,
          |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ord_us, event_id) AS to_type
          |      FROM e),
          |c AS (SELECT from_type, to_type, count(*) AS n_trans FROM b
          |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
          |SELECT from_type, to_type, n_trans,
          |  CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
          |  CAST(n_trans AS DOUBLE) / CAST(sum(n_trans) OVER (PARTITION BY from_type) AS DOUBLE) AS p
          |FROM c ORDER BY from_type, to_type""".stripMargin,
      "a10_chi_square" ->
        """WITH e AS (SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow FROM events),
          |c AS (SELECT event_type, dow, count(*) AS o FROM e GROUP BY 1, 2),
          |m AS (SELECT event_type, dow, o,
          |        CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
          |        CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
          |        CAST(sum(o) OVER () AS BIGINT) AS n
          |      FROM c)
          |SELECT event_type, dow, o, rt, ct, n,
          |  CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS e,
          |  (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
          |    * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
          |    / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib
          |FROM m ORDER BY event_type, dow""".stripMargin,
      "w23_anomaly_flags" ->
        s"""WITH prep AS ($prep),
           |w AS (SELECT event_id, user_id, cents,
           |        CAST(count(*) OVER fr AS BIGINT) AS n_prev,
           |        CAST(coalesce(sum(cents) OVER fr, 0) AS BIGINT) AS s_prev,
           |        CAST(coalesce(sum(cents * cents) OVER fr, 0) AS BIGINT) AS q_prev
           |      FROM prep
           |      WINDOW fr AS (PARTITION BY user_id ORDER BY ord_us, event_id
           |                    ROWS BETWEEN $AnomalyWin PRECEDING AND 1 PRECEDING))
           |SELECT event_id, user_id, cents, n_prev, s_prev, q_prev,
           |  CASE WHEN n_prev >= $AnomalyMinPrev THEN
           |    CAST((n_prev * cents - s_prev) * (n_prev * cents - s_prev) >
           |         4 * (n_prev * q_prev - s_prev * s_prev) AS INT)
           |  END AS is_anomaly
           |FROM w ORDER BY event_id""".stripMargin,
      "a11_spend_autocorr" -> {
        val lagSelects = AutocorrLags
          .map { l =>
            s"""SELECT $l AS lag, count(*) AS n_pairs,
               |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               |  CAST(sum(x * y) AS BIGINT) AS sxy,
               |  CAST(sum(x * x) AS BIGINT) AS sxx,
               |  CAST(sum(y * y) AS BIGINT) AS syy
               |FROM (SELECT y, lag(y, $l) OVER (ORDER BY day) AS x FROM daily)
               |WHERE x IS NOT NULL""".stripMargin
          }
          .mkString("\nUNION ALL\n")
        s"""WITH prep AS ($prep),
           |daily AS (SELECT ord_us // 86400000000 AS day,
           |                 CAST(sum(cents) AS BIGINT) AS y
           |          FROM prep GROUP BY 1),
           |lags AS ($lagSelects)
           |SELECT lag, n_pairs, sx, sy, sxy, sxx, syy,
           |  CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
           |    sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
           |         * CAST(n_pairs * syy - sy * sy AS DOUBLE)) AS autocorr
           |FROM lags ORDER BY lag""".stripMargin
      },
      "a12_user_mode" ->
        """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
          |           FROM events GROUP BY 1, 2),
          |r AS (SELECT *,
          |        row_number() OVER (PARTITION BY user_id
          |                           ORDER BY cnt DESC, event_type) AS rn,
          |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_types,
          |        CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
          |      FROM c)
          |SELECT user_id, event_type AS mode_type, cnt AS mode_cnt, n_types, n_events
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "z1_zorder_layout" -> {
        val z = graft.operators.ZOrder.interleaveSql("x", "y")
        s"""WITH prep AS ($prep),
           |d AS (SELECT user_id & 65535 AS x,
           |             (ord_us // 3600000000) & 65535 AS y
           |      FROM prep),
           |zz AS (SELECT x, y, $z AS z FROM d)
           |SELECT z >> $ZBucketShift AS zbucket, count(*) AS n,
           |  min(x) AS min_user, max(x) AS max_user,
           |  min(y) AS min_hour, max(y) AS max_hour
           |FROM zz GROUP BY 1 ORDER BY zbucket""".stripMargin
      }
    )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a20_spearman" -> (spearmanSpend(_, _)),
    "a21_mann_whitney" -> (mannWhitney(_, _)),
    "a36_kruskal_wallis" -> (kruskalWallis(_, _)),
    "a37_kaplan_meier" -> (kaplanMeier(_, _)),
    "s18_neyman_sample" -> (neymanSample(_, _)),
    "a22_cramers_v" -> (cramersV(_, _)),
    "a23_ks_test" -> (ksTest(_, _)),
    "a24_wasserstein" -> (wassersteinDistance(_, _)),
    "a26_cusum_drift" -> (cusumDrift(_, _)),
    "a27_tvd_drift" -> (tvdDrift(_, _)),
    "a28_benford" -> (benfordScreen(_, _)),
    "a29_binning_trainfit" -> (quantileBinningTrainFit(_, _)),
    "f15_target_smoothed" -> (targetEncodingSmoothed(_, _)),
    "w29_week_over_week" -> (weekOverWeek(_, _)),
    "s12_poisson_bootstrap" -> (poissonBootstrap(_, _)),
    "k7_ams_f2" -> (amsF2(_, _)),
    "s11_weighted_sample" -> (weightedSample(_, _)),
    "w1_trailing_agg" -> (trailingAgg(_, _)),
    "w5_latest_per_key" -> (latestPerKey(_, _)),
    "w7_store_contents" -> (storeContents(_, _)),
    "w31_store_ttl" -> (storeTtl(_, _)),
    "j1_enrich_staleness" -> (enrichStaleness(_, _)),
    "j3_asof_join" -> (asofSnapshots(_, _)),
    "j11_training_dataset" -> (trainingDataset(_, _)),
    "j4_range_join" -> (rangeJoinAgg(_, _)),
    "w7_sessionize" -> (sessionize(_, _)),
    "s4_stratified_sample" -> (stratifiedSample(_, _)),
    "s5_hash_split" -> (hashSplit(_, _)),
    "s17_temporal_split" -> (temporalEntitySplit(_, _)),
    "k1_kmv_distinct" -> (kmvDistinct(_, _)),
    "k8_kmv_agg" -> (kmvAggDistinct(_, _)),
    "a30_runs_test" -> (runsTest(_, _)),
    "a31_mann_kendall" -> (mannKendall(_, _)),
    "k2_countmin_spend" -> (countMinSpend(_, _)),
    "s8_group_sample" -> (groupSample(_, _)),
    "w8_tumbling_rollup" -> (tumblingRollup(_, _)),
    "w9_session_window" -> (sessionWindowRollup(_, _)),
    "w10_sliding_rollup" -> (slidingRollup(_, _)),
    "q4_pivot_spend" -> (pivotSpend(_, _)),
    "q5_unpivot_spend" -> (unpivotSpend(_, _)),
    "q6_rollup_spend" -> (rollupSpend(_, _)),
    "q7_cube_spend" -> (cubeSpend(_, _)),
    "w11_lag_features" -> (lagFeatures(_, _)),
    "a4_value_histogram" -> (valueHistogram(_, _)),
    "w12_gap_fill_daily" -> (gapFillDaily(_, _)),
    "s9_entity_split" -> (entitySplit(_, _)),
    "s16_kfold" -> (kfoldSplit(_, _)),
    "j5_anti_blocklist" -> (antiJoinBlocklist(_, _)),
    "q8_user_set_ops" -> (userSetOps(_, _)),
    "a5_spend_hour_corr" -> (spendHourCorr(_, _)),
    "w30_event_pattern" -> (eventPattern(_, _)),
    "a32_anova" -> (anovaCells(_, _)),
    "a33_multireg" -> (multiRegression(_, _)),
    "a34_theil_sen" -> (theilSen(_, _)),
    "a35_kendall_tau" -> (kendallTau(_, _)),
    "k9_kmv_quantiles" -> (kmvQuantiles(_, _)),
    "w13_decay_spend" -> (decaySpend(_, _)),
    "w14_spend_rank" -> (spendRankFeatures(_, _)),
    "q9_user_type_profile" -> (userTypeProfile(_, _)),
    "j6_click_attribution" -> (clickAttribution(_, _)),
    "j7_full_outer_daily" -> (fullOuterDaily(_, _)),
    "a6_spend_mad" -> (spendMad(_, _)),
    "q10_data_quality" -> (dataQuality(_, _)),
    "a7_table_profile" -> (tableProfile(_, _)),
    "w15_moving_median" -> (movingMedian(_, _)),
    "s3_regex_props" -> (regexProps(_, _)),
    "w16_funnel" -> (funnelStages(_, _)),
    "w17_retention" -> (retentionCohorts(_, _)),
    "w18_scd2_intervals" -> (scd2Intervals(_, _)),
    "a8_higher_moments" -> (higherMoments(_, _)),
    "w19_interval_union" -> (intervalUnion(_, _)),
    "j8_nearest_event" -> (nearestEvent(_, _)),
    "w20_concurrency" -> (concurrency(_, _)),
    "w21_twap" -> (twapSpend(_, _)),
    "w24_ohlc_bars" -> (ohlcBars(_, _)),
    "j9_overlap_join" -> (overlapJoin(_, _)),
    "w25_active_users_7d" -> (activeUsers7d(_, _)),
    "a13_quantile_binning" -> (quantileBinning(_, _)),
    "q15_grouping_sets" -> (groupingSetsSpend(_, _)),
    "a14_benford" -> (benfordDigits(_, _)),
    "f13_target_encoding" -> (targetEncoding(_, _)),
    "f16_oof_encoding" -> (oofTargetEncoding(_, _)),
    "q16_user_journey" -> (userJourney(_, _)),
    "j10_scd2_lookup" -> (scd2Lookup(_, _)),
    "j12_scd2_apply" -> (scd2Apply(_, _)),
    "w26_day_streaks" -> (dayStreaks(_, _)),
    "q17_rollup_merge" -> (rollupMerge(_, _)),
    "a15_ab_test" -> (abTest(_, _)),
    "a9_user_trend" -> (userTrend(_, _)),
    "k4_kmv_setops" -> (kmvSetOps(_, _)),
    "k5_hll_distinct" -> (hllDistinct(_, _)),
    "w22_transition_matrix" -> (transitionMatrix(_, _)),
    "a10_chi_square" -> (chiSquareCells(_, _)),
    "w23_anomaly_flags" -> (anomalyFlags(_, _)),
    "a11_spend_autocorr" -> (spendAutocorr(_, _)),
    "a12_user_mode" -> (userMode(_, _)),
    "w27_rank_position" -> (rankPositionFeatures(_, _)),
    "a16_gini_spend" -> (giniSpend(_, _)),
    "s10_balanced_sample" -> (balancedSample(_, _)),
    "a17_type_diversity" -> (typeDiversity(_, _)),
    "a18_k_anonymity" -> (kAnonymity(_, _)),
    "q19_snapshot_diff" -> (snapshotDiff(_, _)),
    "a19_drift_chi2" -> (driftChiSquare(_, _)),
    "w28_gap_histogram" -> (gapHistogram(_, _)),
    "x1_partitioned_scan" -> (partitionedScan(_, _)),
    "x3_schema_evolution" -> (schemaEvolutionScan(_, _)),
    "x4_time_travel" -> (timeTravelScan(_, _)),
    "x5_zone_map_skip" -> (zoneMapScan(_, _)),
    "x6_row_delete" -> (rowDeleteScan(_, _)),
    "x22_mor_delete" -> (morDeleteScan(_, _)),
    "x7_vacuum_read" -> (vacuumScan(_, _)),
    "x8_merge_upsert" -> (mergeUpsertScan(_, _)),
    "x26_merge_mor" -> (mergeMorScan(_, _)),
    "x27_bloom_lookup" -> (bloomLookupScan(_, _)),
    "x9_optimize" -> (optimizeScan(_, _)),
    "x10_multi_zone" -> (multiZoneScan(_, _)),
    "x11_schema_travel" -> (schemaTravelScan(_, _)),
    "x21_column_rename" -> (columnRenameScan(_, _)),
    "x24_type_widening" -> (typeWideningScan(_, _)),
    "x25_drop_column" -> (dropColumnScan(_, _)),
    "x12_incremental_read" -> (incrementalReadScan(_, _)),
    "x23_stream_tail" -> (streamTailScan(_, _)),
    "x13_restore" -> (restoreScan(_, _)),
    "x14_change_feed" -> (changeFeedScan(_, _)),
    "x15_checked_commit" -> (checkedCommitScan(_, _)),
    "x16_snapshot_tags" -> (snapshotTagsScan(_, _)),
    "x17_incremental_agg" -> (incrementalAggScan(_, _)),
    "x18_metadata_agg" -> (metadataAggScan(_, _)),
    "x19_shallow_clone" -> (shallowCloneScan(_, _)),
    "x20_copy_into" -> (copyIntoScan(_, _)),
    "z1_zorder_layout" -> (zorderLayout(_, _)),
    "a2_spend_quantiles" -> (spendQuantiles(_, _)),
    "a3_sampled_quantiles" -> (sampledQuantiles(_, _)),
    "g1_salted_rollup" -> (saltedRollup(_, _)),
    "g2_salted_topk" -> (saltedTopSpend(_, _)))
}
