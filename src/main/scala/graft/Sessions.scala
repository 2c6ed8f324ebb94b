package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine.
  *
  * Centralizes the settings every entrypoint (Verify, Bench, tests) needs:
  *   - `nanosAsLong`: the testdata `events.ts` column is parquet
  *     TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read;
  *   - shuffle partitions sized to the local core count (not 200) — on a
  *     real cluster this would be executors × cores with AQE coalescing;
  *   - AQE on: runtime shuffle coalescing, skew-join splitting;
  *   - UTC session timezone for oracle parity;
  *   - `file:` bound to [[LocalFs]]: without native Hadoop the stock local
  *     filesystem forks `chmod` and `readlink` for every file it writes or
  *     renames, which puts child processes on every streaming checkpoint
  *     commit.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The generator writes tz-naive parquet timestamps (isAdjustedToUTC =
      // false); Spark 4 would infer TIMESTAMP_NTZ, which unix_micros and
      // timestamp comparisons against LTZ literals reject. Read them as the
      // session-UTC TimestampType instead — identical instants to DuckDB's
      // naive reading because the session timezone is pinned to UTC above.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Division semantics pinned to the oracle's: DuckDB yields NULL for
      // a zero double denominator, and so does non-ANSI Spark — but Spark
      // 4 defaults ANSI ON, which makes the reference's deliberately
      // UNGUARDED batch ratio projection (F1: avg_short/avg_long, no
      // serving-side zero-fill) THROW on the first zero-amount window in
      // a corpus. The reference's own pandas pipeline never crashed on a
      // zero (it produced inf); crashing a 100 TB batch job on one
      // zero-value transaction is not a semantic we want to inherit from
      // a config default. Overflow discipline is unaffected: every
      // magnitude-critical aggregate already runs in decimal(38) or `div`
      // (the a32 rule), never relying on ANSI to catch a wrap.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
