package perfbench

import scala.util.Random

import graft.{CacheScope, SparkEntry}
import graft.datagen.ScaleGen
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A fixed subset of the oracle-gated queries (`SparkEntry.queries`), run
  * once in the traced run over a corpus that `datagen.ScaleGen` writes into
  * the run's work directory. It is the part of the benchmark that runs
  * the `queries` package, `Tables.load` and `sources.Snapshots`.
  */
object Gates {

  /** Every gate here reads only the generated `events` and `documents`
    * tables. The x* gates commit and read `sources.Snapshots` tables built
    * from `events`; f14 reads `documents`; the rest read `events`. The
    * subset is cut to what fits the traced run's time.
    */
  val Subset: Seq[String] = Seq(
    "f1_scalar_pack", "f13_target_encoding", "f14_feature_hashing", "f15_target_smoothed",
    "f16_oof_encoding", "w1_trailing_agg", "w5_latest_per_key", "x1_partitioned_scan",
    "x3_schema_evolution", "x4_time_travel", "x5_zone_map_skip", "x6_row_delete",
    "x7_vacuum_read", "x15_checked_commit", "x20_copy_into", "x24_type_widening")

  val CorpusEvents = 20000L
  val CorpusDocs = 2000L

  /** Each gate's result fingerprint on the generated corpus, as recorded
    * from this tree: rows, then the XOR and the sum mod 2^31-1 of the
    * rows' xxhash64 over their string-cast columns. A run prints the
    * fingerprint it saw for every gate that differs.
    */
  val Expected: Map[String, String] = Map(
    "f1_scalar_pack" -> "20000/-5110248784747833168/21653758211839",
    "f13_target_encoding" -> "20000/4130904408931913972/21378749280360",
    "f14_feature_hashing" -> "25/7794838596189212246/25533067920",
    "f15_target_smoothed" -> "5/-7775140266093067998/4526991888",
    "f16_oof_encoding" -> "20000/-3663566437271978381/21516061556648",
    "w1_trailing_agg" -> "20000/2743967092660223548/21486893880244",
    "w5_latest_per_key" -> "298/-1461612501223835885/337034688419",
    "x1_partitioned_scan" -> "2/-8765732834887321108/1433205487",
    "x3_schema_evolution" -> "4/3713307755107054239/5468720698",
    "x4_time_travel" -> "3/-3642823508527283776/2734134921",
    "x5_zone_map_skip" -> "1/8401786180290553429/473132639",
    "x6_row_delete" -> "2/2202097398292603387/2632568350",
    "x7_vacuum_read" -> "1/1839537900215451125/138703336",
    "x15_checked_commit" -> "6/1543498880083018923/7884024885",
    "x20_copy_into" -> "2/7671159497143102666/1918242076",
    "x24_type_widening" -> "4/-8272358082897956853/4699238541")

  /** Writes the corpus under `dir`; returns the seconds it took. */
  def writeCorpus(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    ScaleGen.events(spark, CorpusEvents).write.parquet(s"$dir/events.parquet")
    ScaleGen.documents(spark, CorpusDocs).write.parquet(s"$dir/documents.parquet")
    (System.nanoTime() - t0) / 1e9
  }

  /** Consumes `df` in full and returns its order-insensitive fingerprint. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(struct(df.columns.toIndexedSeq.map(c => col(c).cast("string")): _*))
    val r = df
      .select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)}/${r.getLong(1)}/${r.getLong(2)}"
  }

  /** One gate: builder and consume wall times, and what it returned. */
  final case class Run(name: String, buildS: Double, execS: Double, result: Either[String, String]) {
    def totalS: Double = buildS + execS
    def family: String = name.takeWhile(_.isLetter)
    def wrong: Boolean = result.fold(_ => true, fp => !Expected.get(name).contains(fp))
  }

  /** Runs the subset once in seed-shuffled order inside `CacheScope.scoped`.
    * The listeners bill each gate's builder call to `build` and its consume
    * to `exec`.
    */
  def run(spark: SparkSession, dir: String, seed: Long, probes: Probes, build: PhaseStats, exec: PhaseStats, tracer: Tracer): Seq[Run] = {
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    CacheScope.scoped(spark) {
      new Random(seed).shuffle(Subset).map { name =>
        var buildS, execS = 0.0
        val result =
          try {
            probes.phase = build
            val t0 = System.nanoTime()
            val df = tracer.span(sc, s"queries.build $name")(queries(name)(spark, dir))
            buildS = (System.nanoTime() - t0) / 1e9
            ListenerBusDrain(sc)
            probes.phase = exec
            val t1 = System.nanoTime()
            val fp = tracer.span(sc, s"queries.exec $name")(fingerprint(df))
            execS = (System.nanoTime() - t1) / 1e9
            Right(fp)
          } catch { case e: Throwable => Left(e.toString.linesIterator.nextOption().getOrElse("")) }
          finally {
            ListenerBusDrain(sc)
            probes.phase = null
          }
        Run(name, buildS, execS, result)
      }
    }
  }
}
