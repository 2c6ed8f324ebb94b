package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed parquet tables: the storage-layout half of the shuffle story.
  *
  * A join or aggregation on a key always shuffles UNLESS the data is
  * already laid out by that key. Bucketing bakes the hash partitioning
  * into the table: `bucketBy(n, key)` writes each partition's rows into
  * n files by `hash(key) % n`, and `sortBy` orders rows within each
  * bucket file. Two tables bucketed by the same key into the same bucket
  * count then join with ZERO exchanges (and, with one file per bucket,
  * zero sorts) — at 100 TB that converts the recurring per-query shuffle
  * of a fact table into a one-time cost paid at ingest. The same layout
  * satisfies groupBy distribution, so per-key aggregations skip their
  * exchange too.
  *
  * Bucketed layout requires the table catalog (the bucket spec lives in
  * table metadata, not the parquet files), hence `saveAsTable` rather
  * than `parquet(path)`. BucketedJoinSpec asserts the exchange-free plans.
  */
object Bucketed {

  /** Drop `table` and its managed location. The location is cleaned
    * explicitly because a managed table's files outlive an in-memory
    * catalog: a fresh session no longer knows the table, so
    * `mode(overwrite)` alone would refuse the orphaned directory with
    * LOCATION_ALREADY_EXISTS.
    */
  private def dropWithLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // Managed-table locations are <warehouse>/<db>.db/<table> except for
    // the default database, which sits directly under the warehouse root.
    val db = spark.catalog.currentDatabase
    val rel =
      if (db == "default") table.toLowerCase
      else s"${db.toLowerCase}.db/${table.toLowerCase}"
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), rel)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Write `df` as a bucketed, bucket-sorted catalog table, replacing any
    * previous incarnation (including its orphaned location).
    */
  def write(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Write `df` Hive-style PARTITIONED by `key` — one directory per
    * distinct key value (`key=v/part-*.parquet`), the layout for
    * low-cardinality predicate columns (event type, date, language,
    * source). Where [[write]]'s bucketing removes the JOIN/groupBy
    * exchange, partitioning removes the SCAN: a query filtering on the
    * partition column prunes whole directories at PLANNING time — the
    * difference between listing 3 directories and reading a 100 TB
    * table. The two compose (partition by date, bucket by key within)
    * for the fact-table layout a warehouse actually ships.
    * PlanPostureSpec asserts the pruned scan.
    */
  def writePartitioned(df: DataFrame, table: String, key: String): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write
      .mode("overwrite")
      .format("parquet")
      .partitionBy(key)
      .saveAsTable(table)
  }

  /** [[writePartitioned]] and [[write]] composed — the production fact
    * layout: directories pruned by the predicate column, bucket files
    * inside each directory pre-hashed by the join/aggregation key. A
    * query filtering on `partKey` and aggregating or joining on
    * `bucketKey` then touches only the matching directories AND runs
    * exchange-free (same-id bucket files across the surviving
    * directories coalesce into one task). BucketedJoinSpec asserts both
    * properties on one plan.
    */
  def writePartitionedBucketed(
      df: DataFrame,
      table: String,
      partKey: String,
      bucketKey: String,
      buckets: Int): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write
      .mode("overwrite")
      .format("parquet")
      .partitionBy(partKey)
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .saveAsTable(table)
  }

  /** Write `df` as a plain (unbucketed) catalog table with the same
    * replace-including-location semantics as [[write]] — for the small
    * side of an index (e.g. centroid tables) where bucketing buys nothing.
    */
  def writePlain(df: DataFrame, table: String): Unit = {
    dropWithLocation(df.sparkSession, table)
    // Size the output files from the plan's own size estimate (~128 MB
    // per file, guide §6: aim for 128 MB - 1 GB): a frame arriving from a
    // 32-partition shuffle otherwise lands as 32 KB-sized files at the
    // gate corpus — per-file open cost on every probe — while at cluster
    // scale the estimate grows and the coalesce becomes a no-op
    // (coalesce never increases partition count). Derived from data, not
    // the core count.
    // stats.sizeInBytes is the UNCOMPRESSED in-memory estimate; snappy
    // parquet lands ~3x smaller, so divide before sizing or every file
    // undershoots the target. The parallelism floor keeps a mid-size
    // write from collapsing to one task: coalesce is narrow, so a
    // 1-part coalesce would fold the whole upstream compute into a
    // single task (guide §2), not just serialize the write. The floor
    // sizes from the UNCOMPRESSED estimate on purpose: what it bounds is
    // each task's upstream in-memory work (~16 MB of rows), not the file
    // size, so below 8 parts files may land under the 128 MB band.
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sizeParts = ((est / 3L) / (128L << 20)).toLong + 1L
    val parts =
      if (sizeParts >= 8L) math.min(200000L, sizeParts)
      else math.min(8L, (est / (16L << 20)).toLong + 1L)
    df.coalesce(parts.toInt).write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Append `df` into an EXISTING bucketed table under the same bucket
    * spec — the incremental-maintenance write path: new rows hash into
    * the same `hash(key) % n` layout (Spark validates the spec against
    * the catalog and refuses a mismatch), so every downstream join or
    * aggregation on `key` stays exchange-free across appends. Each
    * append adds up to one file per bucket per writing task;
    * [[compact]] is the standing answer once the file count accretes.
    */
  def append(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode("append")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** The table's bucket count from CATALOG metadata (None when the table
    * is unbucketed) — what an index-maintenance rewrite must use instead
    * of a caller-supplied count: re-bucketing an index built with a
    * different count would silently break the exchange-free probe layout
    * every consumer relies on.
    */
  def bucketCount(spark: SparkSession, table: String): Option[Int] =
    spark
      .sql(s"DESCRIBE FORMATTED `$table`")
      .collect()
      .find(_.getString(0).trim == "Num Buckets")
      .map(_.getString(1).trim.toInt)

  /** Rewrite a bucketed table FROM A DERIVATION OF ITSELF, crash-safely:
    * `df` (which may read `table`) is fully written to `<table>__compact`
    * BEFORE the original moves — never the r11 shape (delete the source
    * files, then re-write from a localCheckpoint whose unreplicated
    * blocks die with an executor). The swap is [[compact]]'s rename
    * dance: the original survives under `<table>__old` until the rewrite
    * holds the primary name, so a crash at ANY point leaves every row
    * reachable under a well-known name; the original drops only last.
    */
  def replaceBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    val tmp = table + "__compact"
    val old = table + "__old"
    dropWithLocation(spark, old)
    write(df, tmp, key, buckets)
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    dropWithLocation(spark, old)
  }

  /** Compact a fragmented plain table to ~`targetFileBytes`-sized data
    * files — the small-files maintenance pass every micro-batch sink
    * eventually needs (a streaming foreachBatch upsert leaves one file
    * per batch per partition; parquet scan throughput collapses when
    * files shrink below the row-group size). The output file count
    * derives from the table's actual on-disk bytes, the rows are
    * preserved exactly (one repartition — no ordering contract), and the
    * swap is write-to-temp + rename-out + rename-in: the table name is
    * briefly absent between the two renames (a catalog swap is not
    * atomic in Spark — there is no RENAME ... TO ... EXCHANGE), but a
    * crash at ANY point leaves every row reachable under a well-known
    * name — `t__old` still holds the original until `t__compact` has
    * taken the primary name, so recovery is "rename whichever of
    * `t__old`/`t__compact` survives back to `t`", never data loss. The
    * original is dropped only as the final step. Returns the new file
    * count.
    */
  def compact(spark: SparkSession, table: String, targetFileBytes: Long): Int = {
    val df = spark.table(table)
    val conf = spark.sparkContext.hadoopConfiguration
    val total = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    val tmp = table + "__compact"
    val old = table + "__old"
    dropWithLocation(spark, tmp)
    dropWithLocation(spark, old)
    df.repartition(n).write.format("parquet").saveAsTable(tmp)
    // rename-out (original stays intact under __old) ...
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
    // ... rename-in (crash between the two: both __old and __compact
    // exist, documented recovery above) ...
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    // ... and only now is the original unreachable-by-design
    dropWithLocation(spark, old)
    n
  }
}
