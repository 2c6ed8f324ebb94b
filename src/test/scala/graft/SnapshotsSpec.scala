package graft

import java.nio.file.{FileSystems, Paths, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot table's commit contracts — what x4's oracle gate cannot
  * see: torn commits stay invisible, history survives logical overwrite,
  * and version discovery ignores unpublished staging artifacts.
  */
class SnapshotsSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("4")

  test("commit/append/overwrite lifecycle: history stays readable and bit-stable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_spec").toString
    val v1 = Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir)
    val v1Rows = Snapshots.readVersion(spark, dir, v1).as[(Long, Long)].collect().toSet
    val v2 = Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "x"), dir)
    val v3 = Snapshots.commitOverwrite(Seq((9L, 90L)).toDF("id", "x"), dir)
    assert((v1, v2, v3) == (1, 2, 3))
    assert(Snapshots.readVersion(spark, dir, 1).as[(Long, Long)].collect().toSet == v1Rows,
      "v1 must read identically after later commits logically replaced it")
    assert(Snapshots.readVersion(spark, dir, 2).as[(Long, Long)].collect().toSet
      == v1Rows + ((3L, 30L)), "append must see previous files plus its own")
    assert(Snapshots.readVersion(spark, dir, 3).as[(Long, Long)].collect().toSet
      == Set((9L, 90L)), "overwrite must see only its own files")
    assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet == Set((9L, 90L)))
  }

  test("a torn commit (leftover .tmp manifest) is invisible to readers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_torn").toString
    Snapshots.commitOverwrite(Seq((1L, 1L)).toDF("id", "x"), dir)
    // simulate a writer that crashed after staging its manifest: data
    // files and a .tmp exist, the rename never happened
    val md = java.nio.file.Paths.get(dir, "_manifests")
    java.nio.file.Files.writeString(md.resolve("v2.list.tmp"), "file:/nonexistent.parquet\n")
    assert(Snapshots.latestVersion(spark, dir) == 1,
      "an unpublished .tmp manifest must not count as a version")
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir, 2))
    // a crashed attempt also leaves an orphan STAGE directory; staging is
    // per-attempt-unique, so the retry of the same version must neither
    // collide with it nor read its junk
    val orphan = java.nio.file.Paths.get(dir, "data", "commit-v2")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    // the NEXT real commit publishes v2 normally over all the debris
    assert(Snapshots.commitAppend(Seq((2L, 2L)).toDF("id", "x"), dir) == 2)
    assert(Snapshots.readVersion(spark, dir, 2).count() == 2)
  }

  test("zone maps actually skip files, and never change results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_zonemap").toString
    val rows = (1L to 4000L).map(i => (i, i % 97))
    Snapshots.commitOverwrite(
      rows.toDF("id", "x").repartitionByRange(8, col("id")), dir, Seq("id"))
    val pruned = Snapshots.readVersionRange(spark, dir, 1, "id", 100L, 400L)
    val full = Snapshots.readVersion(spark, dir, 1).filter(col("id").between(100L, 400L))
    assert(pruned.inputFiles.length < Snapshots.readVersion(spark, dir, 1).inputFiles.length,
      "the range read must hand the scan strictly fewer files on a range-clustered table")
    assert(pruned.as[(Long, Long)].collect().toSet == full.as[(Long, Long)].collect().toSet,
      "pruning must never change results")
    // a range outside every zone map reads no matching rows
    assert(Snapshots.readVersionRange(spark, dir, 1, "id", 100000L, 200000L).count() == 0)
  }

  test("copy-on-write delete rewrites only overlapping files; prior version intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_delete").toString
    val rows = (1L to 4000L).map(i => (i, i % 97))
    Snapshots.commitOverwrite(
      rows.toDF("id", "x").repartitionByRange(8, col("id")), dir, Seq("id"))
    val v1Files = Snapshots.readVersion(spark, dir, 1).inputFiles.toSet
    assert(Snapshots.commitDelete(spark, dir, "id", 100L, 400L) == 2)
    val v2Files = Snapshots.readVersion(spark, dir, 2).inputFiles.toSet
    val carried = v1Files.intersect(v2Files)
    assert(carried.nonEmpty, "files outside the deleted range must be carried, not rewritten")
    assert(v1Files.diff(v2Files).nonEmpty, "files holding doomed rows must be replaced")
    // v2 = v1 minus the range; v1 still reads every original row
    val v2Ids = Snapshots.readVersion(spark, dir, 2).select("id").as[Long].collect().toSet
    assert(v2Ids == (1L to 4000L).toSet.filterNot(i => i >= 100L && i <= 400L))
    assert(Snapshots.readVersion(spark, dir, 1).count() == 4000L,
      "time travel across a delete must still read the undeleted snapshot")
  }

  test("vacuum reference-counts by FILE: carried files survive, expired versions die") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_vacuum").toString
    val rows = (1L to 4000L).map(i => (i, i % 97))
    Snapshots.commitOverwrite(
      rows.toDF("id", "x").repartitionByRange(8, col("id")), dir, Seq("id"))
    Snapshots.commitAppend(
      (4001L to 4100L).map(i => (i, i % 97)).toDF("id", "x"), dir, Seq("id"))
    Snapshots.commitDelete(spark, dir, "id", 100L, 400L)
    val v3Before = Snapshots.readVersion(spark, dir, 3).as[(Long, Long)].collect().toSet

    // keepFrom = 2: v2 still references EVERY v1 file (append carried
    // them), so nothing is deletable yet — only v1's manifest expires
    assert(Snapshots.vacuum(spark, dir, keepFrom = 2) == 0,
      "files referenced by a surviving version must never be deleted")
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir, 1))
    assert(Snapshots.readVersion(spark, dir, 2).count() == 4100L)

    // keepFrom = 3: only now do the delete-rewritten originals lose their
    // last reference and get erased; v3 must read bit-identically after
    assert(Snapshots.vacuum(spark, dir, keepFrom = 3) > 0,
      "the rewritten-away files must be physically erased once unreferenced")
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir, 2))
    assert(Snapshots.readVersion(spark, dir, 3).as[(Long, Long)].collect().toSet == v3Before,
      "surviving versions must read bit-identically across a vacuum")
  }

  test("exactly-once streaming sink: a replayed micro-batch is a no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("snap_sink").toString
    val dir = s"$root/table"
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = source
      .toDS()
      .toDF("id", "x")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(Snapshots.sink(dir))
      .start()
    try {
      source.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      source.addData((3L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    def tableRows() = Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet
    assert(tableRows() == Set((1L, 10L), (2L, 20L), (3L, 30L)),
      "the sink must land every micro-batch exactly once")

    // the at-least-once failure mode: the engine replays batch 1 (same
    // id, same data) after a crash between manifest rename and
    // checkpoint commit — the recorded batch id makes it a no-op
    val vBefore = Snapshots.latestVersion(spark, dir)
    assert(!Snapshots.commitAppendExactlyOnce(Seq((3L, 30L)).toDF("id", "x"), dir, 1L),
      "a replayed batch id must be skipped")
    assert(Snapshots.latestVersion(spark, dir) == vBefore && tableRows().size == 3,
      "the replay must leave the table untouched")

    // a genuinely new batch id still commits
    assert(Snapshots.commitAppendExactlyOnce(Seq((4L, 40L)).toDF("id", "x"), dir, 2L))
    assert(tableRows() == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))

    // idempotence survives a retention pass: vacuum down to the newest
    // version (whose manifest carries the highest batch id) — an old
    // replay must STILL be skipped, and a fresh batch still commits
    Snapshots.vacuum(spark, dir, keepFrom = Snapshots.latestVersion(spark, dir))
    assert(!Snapshots.commitAppendExactlyOnce(Seq((1L, 10L)).toDF("id", "x"), dir, 2L),
      "a replayed batch id must stay skipped after vacuum")
    assert(Snapshots.commitAppendExactlyOnce(Seq((5L, 50L)).toDF("id", "x"), dir, 3L))
    assert(tableRows().size == 5)
  }

  test("merge rewrites only key-overlapping files; updates, inserts, time travel hold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_merge").toString
    val rows = (1L to 4000L).map(i => (i, i % 97))
    Snapshots.commitOverwrite(
      rows.toDF("id", "x").repartitionByRange(8, col("id")), dir, Seq("id"))
    val v1Files = Snapshots.readVersion(spark, dir, 1).inputFiles.toSet
    // changes: update keys 200..210, insert keys 5001..5005
    val changes = ((200L to 210L) ++ (5001L to 5005L)).map(i => (i, -i)).toDF("id", "x")
    assert(Snapshots.commitMerge(spark, dir, changes, "id") == 2)
    val v2Files = Snapshots.readVersion(spark, dir, 2).inputFiles.toSet
    assert(v1Files.intersect(v2Files).nonEmpty,
      "files whose key range misses every change key must be carried, not rewritten")
    assert(v1Files.diff(v2Files).nonEmpty, "key-overlapping files must be replaced")
    val v2 = Snapshots.readVersion(spark, dir, 2).as[(Long, Long)].collect().toMap
    assert(v2.size == 4005, "merge must keep every unmatched row and add every insert")
    assert((200L to 210L).forall(i => v2(i) == -i), "matched keys must carry the CHANGE payload")
    assert((5001L to 5005L).forall(i => v2(i) == -i), "unmatched change keys must be inserted")
    assert(v2(199L) == 199L % 97 && v2(211L) == 211L % 97, "unmatched base rows must survive")
    assert(Snapshots.readVersion(spark, dir, 1).count() == 4000,
      "time travel across a merge must still read the pre-merge snapshot")
    // a changes batch with a duplicated key is ambiguous — refused
    intercept[IllegalArgumentException](
      Snapshots.commitMerge(spark, dir, Seq((7L, 1L), (7L, 2L)).toDF("id", "x"), "id"))
    // merging on a key with no zone map is correct (full rewrite)
    val dir2 = java.nio.file.Files.createTempDirectory("snap_merge_nozm").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir2)
    Snapshots.commitMerge(spark, dir2, Seq((2L, -2L), (3L, -3L)).toDF("id", "x"), "id")
    assert(Snapshots.readLatest(spark, dir2).as[(Long, Long)].collect().toSet
      == Set((1L, 10L), (2L, -2L), (3L, -3L)))
  }

  test("merge commits leave a caller-cached change batch cached, and free their own") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val dir = java.nio.file.Files.createTempDirectory("snap_merge_cache").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir, Seq("id"))
    val cached = Seq((2L, -2L), (3L, -3L)).toDF("id", "x").cache()
    val mor = Seq((1L, -1L), (4L, -4L)).toDF("id", "x").cache()
    try {
      Snapshots.commitMerge(spark, dir, cached, "id")
      Snapshots.commitMergeMor(spark, dir, mor, "id")
      assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK, "commitMerge evicted the caller's cache")
      assert(mor.storageLevel == StorageLevel.MEMORY_AND_DISK, "commitMergeMor evicted the caller's cache")
    } finally {
      cached.unpersist(blocking = true)
      mor.unpersist(blocking = true)
    }
    val own = Seq((5L, -5L)).toDF("id", "x")
    Snapshots.commitMerge(spark, dir, own, "id")
    Snapshots.commitMergeMor(spark, dir, own, "id")
    assert(own.storageLevel == StorageLevel.NONE, "a commit must free the cache it made")
    assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet
      == Set((1L, -1L), (2L, -2L), (3L, -3L), (4L, -4L), (5L, -5L)))
  }

  test("OPTIMIZE compacts files, tightens zone maps, moves no data; vacuum reclaims") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_optimize").toString
    // three fragmented appends: 24 small files with arbitrary id overlap
    Snapshots.commitOverwrite(
      (1L to 4000L by 3).map(i => (i, i % 97)).toDF("id", "x").repartition(8), dir, Seq("id"))
    Snapshots.commitAppend(
      (2L to 4000L by 3).map(i => (i, i % 97)).toDF("id", "x").repartition(8), dir, Seq("id"))
    Snapshots.commitAppend(
      (3L to 4000L by 3).map(i => (i, i % 97)).toDF("id", "x").repartition(8), dir, Seq("id"))
    val before = Snapshots.readVersion(spark, dir, 3).as[(Long, Long)].collect().toSet
    val nBefore = Snapshots.readVersion(spark, dir, 3).inputFiles.length
    val prunedBefore = Snapshots.readVersionRange(spark, dir, 3, "id", 100L, 400L)
      .inputFiles.length
    assert(Snapshots.commitOptimize(spark, dir, targetFileBytes = 32L << 10) == 4)
    val nAfter = Snapshots.readVersion(spark, dir, 4).inputFiles.length
    assert(nAfter < nBefore, s"OPTIMIZE must reduce the file count ($nBefore -> $nAfter)")
    assert(Snapshots.readVersion(spark, dir, 4).as[(Long, Long)].collect().toSet == before,
      "OPTIMIZE must be bit-identical: it moves bytes, never data")
    val prunedAfter = Snapshots.readVersionRange(spark, dir, 4, "id", 100L, 400L)
      .inputFiles.length
    assert(prunedAfter < prunedBefore,
      s"re-clustering must tighten zone maps: a selective range touched $prunedBefore " +
        s"fragment files but only $prunedAfter packed files")
    assert(Snapshots.readVersionRange(spark, dir, 4, "id", 100L, 400L)
      .as[(Long, Long)].collect().toSet == before.filter(r => r._1 >= 100L && r._1 <= 400L))
    // once the fragmented versions expire, their files lose the last ref
    assert(Snapshots.vacuum(spark, dir, keepFrom = 4) > 0,
      "vacuum must reclaim the pre-OPTIMIZE fragments")
    assert(Snapshots.readVersion(spark, dir, 4).as[(Long, Long)].collect().toSet == before,
      "the OPTIMIZE'd version must read bit-identically after the fragments are reclaimed")
  }

  test("multi-column zone maps prune on EITHER dimension of a Z-ordered layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_multizone").toString
    // two independent-ish dimensions; Z-order the layout so both prune
    val rows = (1L to 8000L).map(i => (i % 251, (i * 7919L) % 1021))
    val zk = graft.operators.ZOrder.interleaveCol(
      col("a").bitwiseAND(lit(65535L)), col("b").bitwiseAND(lit(65535L)))
    Snapshots.commitOverwrite(
      rows.toDF("a", "b").withColumn("zk", zk).repartitionByRange(16, col("zk")).drop("zk"),
      dir,
      Seq("a", "b"))
    val total = Snapshots.readVersion(spark, dir, 1).inputFiles.length
    val onA = Snapshots.readVersionRange(spark, dir, 1, "a", 0L, 30L)
    val onB = Snapshots.readVersionRange(spark, dir, 1, "b", 0L, 120L)
    assert(onA.inputFiles.length < total, "a selective range on dim A must skip files")
    assert(onB.inputFiles.length < total,
      "a selective range on dim B — the column x5 could NOT prune on — must skip files")
    assert(onA.as[(Long, Long)].collect().toSet == rows.filter(_._1 <= 30L).toSet)
    assert(onB.as[(Long, Long)].collect().toSet == rows.filter(_._2 <= 120L).toSet)
    // an undeclared column is refused, not silently unpruned
    intercept[IllegalArgumentException](
      Snapshots.readVersionRange(spark, dir, 1, "zk", 0L, 1L))
  }

  test("zone-map commit refuses all-NULL and non-integral stats columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_zmguard").toString
    val nulls = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("id", "x")
    intercept[IllegalArgumentException](Snapshots.commitOverwrite(nulls, dir, Seq("x")))
    val doubles = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "x")
    intercept[IllegalArgumentException](Snapshots.commitOverwrite(doubles, dir, Seq("x")))
  }

  test("vacuum retention spares young orphans (in-flight commit staging)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_retain").toString
    Snapshots.commitOverwrite(Seq((1L, 1L)).toDF("id", "x"), dir)
    Snapshots.commitOverwrite(Seq((2L, 2L)).toDF("id", "x"), dir)
    // simulate a commit mid-stage: a fresh data file no manifest references yet
    val staged = java.nio.file.Paths.get(dir, "data", "stage-inflight")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    // retention covers the stage->publish window: the young orphan survives
    assert(Snapshots.vacuum(spark, dir, keepFrom = 2, retainMs = 3600_000L) == 0,
      "unreferenced files younger than the retention window must survive a vacuum")
    assert(java.nio.file.Files.exists(staged.resolve("part-00000.parquet")))
    // exclusive-access mode (retainMs = 0) reclaims it
    assert(Snapshots.vacuum(spark, dir, keepFrom = 2) >= 1)
    assert(!java.nio.file.Files.exists(staged.resolve("part-00000.parquet")))
  }

  test("batch high-water side file is a hint: deleting it never breaks idempotence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_hwm").toString
    assert(Snapshots.commitAppendExactlyOnce(Seq((1L, 1L)).toDF("id", "x"), dir, 1L))
    assert(Snapshots.commitAppendExactlyOnce(Seq((2L, 2L)).toDF("id", "x"), dir, 2L))
    val hwm = java.nio.file.Paths.get(dir, "_manifests", "_batch.hwm")
    assert(java.nio.file.Files.exists(hwm),
      "each exactly-once commit must advance the high-water side file")
    assert(java.nio.file.Files.readString(hwm).trim == "2\t2")
    // the hwm is an O(1) shortcut, never load-bearing: without it the
    // downward manifest walk still answers correctly
    java.nio.file.Files.delete(hwm)
    assert(!Snapshots.commitAppendExactlyOnce(Seq((9L, 9L)).toDF("id", "x"), dir, 2L),
      "a replayed batch id must be skipped even with no hwm file")
    assert(Snapshots.commitAppendExactlyOnce(Seq((3L, 3L)).toDF("id", "x"), dir, 3L))
    assert(java.nio.file.Files.readString(hwm).trim == "3\t3",
      "a fresh commit must rebuild the hwm")
    assert(Snapshots.readLatest(spark, dir).count() == 3)
  }

  test("read-modify-write commits abort on a lost publish race (no lost update)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_rmw").toString
    Snapshots.commitOverwrite(
      (1L to 100L).map(i => (i, i)).toDF("id", "x").repartitionByRange(2, col("id")),
      dir, Seq("id"))
    // the race, frozen at its decisive moment: the read-modify-write
    // commit derived its rows from v1 and claims v2, but an interloper
    // published v2 first — the publish must ABORT (retrying at v3 would
    // silently drop the interloper's effect: the lost-update anomaly;
    // commitDelete/commitMerge/commitOptimize all publish through this
    // path, while append/overwrite retry at the next version instead)
    val md = java.nio.file.Paths.get(dir, "_manifests")
    java.nio.file.Files.writeString(md.resolve("v2.list"), "#stats=id\n")
    val e = intercept[IllegalArgumentException](
      Snapshots.publishOrAbort(spark, dir, 2, Seq("id"), Nil, "delete"))
    assert(e.getMessage.contains("lost the publish race"), e.getMessage)
    // the append path retries PAST the squatter instead of aborting
    assert(Snapshots.commitAppend(Seq((200L, 200L)).toDF("id", "x"), dir, Seq("id")) == 3)
    assert(Snapshots.readVersion(spark, dir, 3).count() == 1,
      "the retried append carries the squatter's (empty) snapshot plus its own rows")
  }

  test("schema evolution is versioned: v1 reads WITHOUT the later column, zone maps survive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_evolve").toString
    Snapshots.commitOverwrite(
      (1L to 2000L).map(i => (i, i % 97)).toDF("id", "x").repartitionByRange(4, col("id")),
      dir, Seq("id"))
    // the evolution commit: same manifest machinery, files just carry more
    Snapshots.commitAppend(
      (2001L to 3000L).map(i => (i, i % 97, s"t${i % 3}")).toDF("id", "x", "tag"),
      dir, Seq("id"))
    assert(!Snapshots.readVersion(spark, dir, 1).columns.contains("tag"),
      "time travel must travel the SCHEMA too: v1 predates the column")
    val merged = Snapshots.readVersionMerged(spark, dir, 2)
    assert(merged.columns.contains("tag"))
    assert(merged.filter(col("tag").isNull).count() == 2000,
      "pre-evolution rows must surface with the added column NULL")
    assert(merged.filter(col("tag").isNotNull).count() == 1000)
    // pruning on the every-generation column crosses the boundary: a
    // range inside gen-2 skips every gen-1 file and still reads exactly
    val pruned = Snapshots.readVersionRange(spark, dir, 2, "id", 2100L, 2200L)
    assert(pruned.inputFiles.length < Snapshots.readVersion(spark, dir, 2).inputFiles.length)
    assert(pruned.select("id").as[Long].collect().toSet == (2100L to 2200L).toSet)
  }

  test("incremental reads deliver each appended row exactly once; rewrites refuse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_incr").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir)
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "x"), dir)
    Snapshots.commitAppend(Seq((4L, 40L), (5L, 50L)).toDF("id", "x"), dir)
    def diff(from: Int, to: Int) =
      Snapshots.readChangesSince(spark, dir, from, to).as[(Long, Long)].collect().toSet
    assert(diff(1, 3) == Set((3L, 30L), (4L, 40L), (5L, 50L)))
    assert(diff(2, 3) == Set((4L, 40L), (5L, 50L)))
    assert(diff(1, 2) == Set((3L, 30L)))
    assert(diff(3, 3).isEmpty, "the empty diff is an empty frame, not an error")
    // the consumer loop: remembering the last-read version partitions the
    // stream of rows exactly (no overlap, no gap)
    assert(diff(1, 2) ++ diff(2, 3) == diff(1, 3))
    // a rewrite inside the range makes "rows added since" ill-posed
    Snapshots.commitOverwrite(Seq((9L, 90L)).toDF("id", "x"), dir)
    val e = intercept[IllegalArgumentException](Snapshots.readChangesSince(spark, dir, 3, 4))
    assert(e.getMessage.contains("append-only"), e.getMessage)
    // ranges entirely before the rewrite still work
    assert(diff(1, 3) == Set((3L, 30L), (4L, 40L), (5L, 50L)))
  }

  test("RESTORE is a zero-copy commit: shared files, survivable vacuum, auditable undo") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_restore").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir)
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "x"), dir)
    val v2 = Snapshots.readVersion(spark, dir, 2).as[(Long, Long)].collect().toSet
    Snapshots.commitOverwrite(Seq((9L, 90L)).toDF("id", "x"), dir) // the bad deploy
    assert(Snapshots.commitRestore(spark, dir, 2) == 4)
    assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet == v2,
      "the restore must reproduce the target version exactly")
    // zero-copy: v4's manifest lists v2's files BY REFERENCE
    assert(Snapshots.manifest(spark, dir, 4)._2.map(_.path)
      == Snapshots.manifest(spark, dir, 2)._2.map(_.path),
      "restore must carry the restored files by reference, never copy them")
    // the undone version stays readable — the rollback is itself history
    assert(Snapshots.readVersion(spark, dir, 3).as[(Long, Long)].collect().toSet
      == Set((9L, 90L)), "the rolled-back version must stay readable (auditable undo)")
    // refcounting across the restore: expiring v1..v3 must NOT erase the
    // restored files (v4 still references them), only v3's orphans
    assert(Snapshots.vacuum(spark, dir, keepFrom = 4) >= 1,
      "the bad deploy's unshared files must be reclaimed")
    assert(Snapshots.readVersion(spark, dir, 4).as[(Long, Long)].collect().toSet == v2,
      "the restored version must read bit-identically after vacuum expired its ORIGINAL")
    // restore is a history rewrite to downstream consumers: both the
    // incremental read and the change feed refuse across it
    intercept[IllegalArgumentException](Snapshots.readChangesSince(spark, dir, 3, 4))
    intercept[IllegalArgumentException](Snapshots.readChangeFeed(spark, dir, 3, 4))
    // restoring to a version that never existed is refused
    intercept[IllegalArgumentException](Snapshots.commitRestore(spark, dir, 99))
  }

  test("change feed replays the table: applying it to a checkpoint reproduces the latest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_cdf").toString
    Snapshots.commitOverwrite(
      (1L to 400L).map(i => (i, i % 97)).toDF("id", "x").repartitionByRange(4, col("id")),
      dir, Seq("id"))
    Snapshots.commitAppend((401L to 500L).map(i => (i, i % 97)).toDF("id", "x"), dir, Seq("id"))
    Snapshots.commitMerge(spark, dir,
      ((50L to 60L) ++ (1001L to 1005L)).map(i => (i, -i)).toDF("id", "x"), "id")
    Snapshots.commitDelete(spark, dir, "id", 200L, 300L)
    Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    val feed = Snapshots.readChangeFeed(spark, dir, 1, 5)
    // the downstream-sync contract: apply inserts+postimages as upserts
    // and deletes as removals, in version order, onto the v1 checkpoint —
    // the result must be EXACTLY the latest table
    val v1 = Snapshots.readVersion(spark, dir, 1).as[(Long, Long)].collect().toMap
    val applied = feed
      .orderBy(col(Snapshots.ChangeVersionCol))
      .select(col("id"), col("x"), col(Snapshots.ChangeTypeCol))
      .as[(Long, Long, String)]
      .collect()
      .foldLeft(v1) {
        case (st, (id, x, "insert"))           => st + (id -> x)
        case (st, (id, x, "update_postimage")) => st + (id -> x)
        case (st, (id, _, "delete"))           => st - id
        case (st, _)                           => st // preimages carry no new state
      }
    val latest = Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toMap
    assert(applied == latest,
      "replaying the change feed onto the checkpoint must reproduce the latest snapshot")
    // every preimage has its postimage twin (same keys, same version)
    val pre = feed.filter(col(Snapshots.ChangeTypeCol) === "update_preimage")
      .select("id").as[Long].collect().toSet
    val post = feed.filter(col(Snapshots.ChangeTypeCol) === "update_postimage")
      .select("id").as[Long].collect().toSet
    assert(pre == post && pre == (50L to 60L).toSet,
      "update pre/postimages must pair exactly on the matched keys")
    // OPTIMIZE contributes nothing: bytes moved, rows identical
    assert(feed.filter(col(Snapshots.ChangeVersionCol) === 5L).isEmpty,
      "an OPTIMIZE version's change feed must be empty")
    // a feed across an overwrite is a history rewrite — refused
    Snapshots.commitOverwrite(Seq((1L, 1L)).toDF("id", "x"), dir, Seq("id"))
    val e = intercept[IllegalArgumentException](Snapshots.readChangeFeed(spark, dir, 5, 6))
    assert(e.getMessage.contains("history rewrite"), e.getMessage)
    // vacuum reclaims expired change records alongside expired manifests
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "changes", "v3")))
    Snapshots.vacuum(spark, dir, keepFrom = 6)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "changes", "v3")),
      "an expired version's change record must be reclaimed by vacuum")
  }

  test("Z-order OPTIMIZE re-clusters so BOTH dimensions prune; rows bit-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_zopt").toString
    // fragmented appends with two independent-ish dimensions
    val rows = (1L to 8000L).map(i => (i % 251, (i * 7919L) % 1021, i))
    Snapshots.commitOverwrite(
      rows.take(3000).toDF("a", "b", "id").repartition(8), dir, Seq("a", "b"))
    Snapshots.commitAppend(
      rows.slice(3000, 6000).toDF("a", "b", "id").repartition(8), dir, Seq("a", "b"))
    Snapshots.commitAppend(
      rows.drop(6000).toDF("a", "b", "id").repartition(8), dir, Seq("a", "b"))
    val before = Snapshots.readVersion(spark, dir, 3).as[(Long, Long, Long)].collect().toSet
    // pack to ~20 files: with too few output files the Morton curve's top
    // bits (dominated by the wider dimension) leave the narrower one a
    // single slab — the same granularity floor any Z-order layout has
    assert(Snapshots.commitOptimize(spark, dir, targetFileBytes = 4L << 10, zOrder = true) == 4)
    assert(Snapshots.readVersion(spark, dir, 4).as[(Long, Long, Long)].collect().toSet
      == before, "Z-order OPTIMIZE must move bytes, never data")
    val total = Snapshots.readVersion(spark, dir, 4).inputFiles.length
    val onA = Snapshots.readVersionRange(spark, dir, 4, "a", 0L, 30L)
    val onB = Snapshots.readVersionRange(spark, dir, 4, "b", 0L, 120L)
    assert(onA.inputFiles.length < total && onB.inputFiles.length < total,
      s"post-Z-order-OPTIMIZE both dimensions must skip files " +
        s"(a: ${onA.inputFiles.length}, b: ${onB.inputFiles.length}, total: $total)")
    assert(onA.as[(Long, Long, Long)].collect().toSet == before.filter(_._1 <= 30L))
    assert(onB.as[(Long, Long, Long)].collect().toSet == before.filter(_._2 <= 120L))
    // declaring zOrder with a single stats column is refused, not ignored
    val dir2 = java.nio.file.Files.createTempDirectory("snap_zopt1").toString
    Snapshots.commitOverwrite(Seq((1L, 1L)).toDF("a", "b"), dir2, Seq("a"))
    intercept[IllegalArgumentException](
      Snapshots.commitOptimize(spark, dir2, zOrder = true))
  }

  test("change feed keeps the online feature store in sync with the mutating table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_cdf_store").toString
    Snapshots.commitOverwrite(
      (1L to 400L).map(i => (i, i % 97)).toDF("id", "x").repartitionByRange(4, col("id")),
      dir, Seq("id"))
    // bootstrap the store from the checkpoint snapshot (v1), then mutate
    // the TABLE and let the store follow the FEED — never re-scanning
    val store = new graft.store.OnlineFeatureStore(Seq("x"))
    Snapshots.readVersion(spark, dir, 1).as[(Long, Long)].collect()
      .foreach { case (k, x) => store.put(k, 1L, Array(x.toDouble)) }
    Snapshots.commitMerge(spark, dir,
      ((50L to 60L) ++ (1001L to 1005L)).map(i => (i, -i)).toDF("id", "x"), "id")
    Snapshots.commitDelete(spark, dir, "id", 200L, 300L)
    Snapshots.commitAppend((2001L to 2010L).map(i => (i, i)).toDF("id", "x"), dir, Seq("id"))
    Snapshots
      .readChangeFeed(spark, dir, 1, 4)
      .select(
        col(Snapshots.ChangeVersionCol), col(Snapshots.ChangeTypeCol), col("id"), col("x"))
      .as[(Long, String, Long, Long)]
      .collect()
      .sortBy(_._1) // version order; within a version the ops touch disjoint keys
      .foreach {
        case (v, "insert", k, x)           => store.put(k, v, Array(x.toDouble))
        case (v, "update_postimage", k, x) => store.put(k, v, Array(x.toDouble))
        case (_, "delete", k, _)           => store.delete(k)
        case _                             => () // preimages carry no new state
      }
    val latest = Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toMap
    assert(store.size == latest.size,
      s"store has ${store.size} keys, table has ${latest.size}")
    latest.foreach { case (k, x) =>
      assert(store.getFeature(k, "x").contains(x.toDouble), s"key $k diverged")
    }
  }

  test("checked commits enforce declared constraints; a refusal publishes nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_checked").toString
    val cons = Seq("x_pos" -> (col("x") > 0L), "id_nn" -> col("id").isNotNull)
    assert(Snapshots.commitAppendChecked(Seq((1L, 10L)).toDF("id", "x"), dir, cons) == 1)
    val e = intercept[IllegalArgumentException](Snapshots.commitAppendChecked(
      Seq((2L, -5L), (3L, 0L), (4L, 4L)).toDF("id", "x"), dir, cons))
    assert(e.getMessage.contains("x_pos (2 rows)"), e.getMessage)
    assert(Snapshots.latestVersion(spark, dir) == 1,
      "a refused commit must publish nothing")
    assert(Snapshots.readLatest(spark, dir).count() == 1)
    // a NULL predicate result is a violation, not a pass (data-quality
    // gating treats an unevaluable row as a bad row)
    val e2 = intercept[IllegalArgumentException](Snapshots.commitAppendChecked(
      Seq((5L, Option.empty[Long])).toDF("id", "x"), dir, cons))
    assert(e2.getMessage.contains("x_pos (1 rows)"), e2.getMessage)
    // the profile lists EVERY constraint, zero counts included
    val prof = Snapshots
      .constraintViolations(Seq((2L, -5L), (3L, 3L)).toDF("id", "x"), cons)
      .as[(String, Long)].collect().toMap
    assert(prof == Map("x_pos" -> 1L, "id_nn" -> 0L))
  }

  test("concurrent appenders all land: the rename race serializes them losslessly") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("snap_race").toString
    Snapshots.commitOverwrite(Seq((0L, 0L)).toDF("id", "x"), dir)
    // 8 writers race the SAME initial latest: every loser of a rename
    // re-reads and retries at the next number — nobody's rows vanish,
    // and the versions come out dense
    val writers = (1 to 8).map { w =>
      Future(Snapshots.commitAppend(Seq((w.toLong, w * 10L)).toDF("id", "x"), dir))
    }
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    assert(versions.sorted == (2 to 9), s"versions must come out dense, got $versions")
    assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet
      == (0 to 8).map(w => (w.toLong, w * 10L)).toSet,
      "every concurrent append's rows must survive the race")

    // a read-modify-write racing those appends would ABORT rather than
    // lose an update; its deterministic frozen-race form is pinned by
    // the publishOrAbort test above (true-concurrency twin batches are
    // the documented residual assumption — see commitAppendExactlyOnce)
  }

  test("timestamp time travel resolves to the last version published at or before T") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_asof_ts").toString
    val before = System.currentTimeMillis() - 1
    Snapshots.commitOverwrite(Seq((1L, 10L)).toDF("id", "x"), dir)
    val t1 = Snapshots.commitTimestampMs(spark, dir, 1).get
    Thread.sleep(5) // distinct wall-clock stamps
    Snapshots.commitAppend(Seq((2L, 20L)).toDF("id", "x"), dir)
    val t2 = Snapshots.commitTimestampMs(spark, dir, 2).get
    assert(t1 <= t2)
    assert(Snapshots.readAsOfTimestamp(spark, dir, t1).as[(Long, Long)].collect().toSet
      == Set((1L, 10L)), "T = v1's stamp must read v1")
    assert(Snapshots
      .readAsOfTimestamp(spark, dir, System.currentTimeMillis() + 1000)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)),
      "a future T must read the latest")
    intercept[IllegalArgumentException](Snapshots.readAsOfTimestamp(spark, dir, before))
    // vacuumed versions are transparently skipped: after expiring v1, a
    // T between the stamps resolves to... nothing before v2, refused; at
    // or after t2, v2
    Snapshots.vacuum(spark, dir, keepFrom = 2)
    intercept[IllegalArgumentException](Snapshots.readAsOfTimestamp(spark, dir, t1 - 1))
    assert(Snapshots.readAsOfTimestamp(spark, dir, t2).count() == 2)
  }

  test("a corrupted manifest refuses loudly; pre-CRC manifests read unchecked") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_crc").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir)
    val mf = java.nio.file.Paths.get(dir, "_manifests", "v1.list")
    val original = java.nio.file.Files.readString(mf)
    assert(original.startsWith("#crc="), "every published manifest must carry its checksum")
    // flip one byte in the body: the read must refuse with a clear
    // message, never hand the scan a silently wrong file list
    java.nio.file.Files.writeString(mf, original.replaceFirst("parquet", "parqueX"))
    val e = intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir, 1))
    assert(e.getMessage.contains("CORRUPT"), e.getMessage)
    // restore: reads work again
    java.nio.file.Files.writeString(mf, original)
    assert(Snapshots.readVersion(spark, dir, 1).count() == 2)
    // a pre-CRC manifest (no header) still reads — the check is
    // backwards-compatible, not a format break
    java.nio.file.Files.writeString(mf, original.substring(original.indexOf('\n') + 1))
    assert(Snapshots.readVersion(spark, dir, 1).count() == 2)
  }

  test("reads push filters into the snapshot's parquet scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_pushdown").toString
    Snapshots.commitOverwrite((1L to 100L).map(i => (i, i * 2)).toDF("id", "x"), dir)
    val plan = Snapshots
      .readLatest(spark, dir)
      .filter(col("id") > 90L)
      .select("id")
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
      s"snapshot read must stay an ordinary pushdown-capable parquet scan:\n$plan")
  }

  test("tags: write-once refs that pin versions through vacuum; drop releases them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_tags").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir)
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "x"), dir)
    Snapshots.commitOverwrite(Seq((9L, 90L)).toDF("id", "x"), dir)
    Snapshots.tag(spark, dir, "training", 2)
    val v2Rows = Snapshots.readTag(spark, dir, "training").as[(Long, Long)].collect().toSet
    assert(v2Rows == Set((1L, 10L), (2L, 20L), (3L, 30L)))

    // write-once: a second tagger of the same name loses loudly
    val dup = intercept[IllegalArgumentException](Snapshots.tag(spark, dir, "training", 3))
    assert(dup.getMessage.contains("write-once"), dup.getMessage)

    // the tag is a retention root: vacuum to keepFrom=3 keeps v2 whole
    // (manifest AND files) while untagged v1 expires
    Snapshots.vacuum(spark, dir, keepFrom = 3)
    assert(Snapshots.readTag(spark, dir, "training").as[(Long, Long)].collect().toSet == v2Rows,
      "the tagged snapshot must read bit-identically through a vacuum below keepFrom")
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir, 1))

    // retag moves the ref; drop releases the pin and the NEXT vacuum
    // reclaims the now-ordinary version
    Snapshots.retag(spark, dir, "training", 3)
    assert(Snapshots.tagVersion(spark, dir, "training") == 3)
    Snapshots.retag(spark, dir, "training", 2)
    Snapshots.dropTag(spark, dir, "training")
    intercept[IllegalArgumentException](Snapshots.readTag(spark, dir, "training"))
    Snapshots.vacuum(spark, dir, keepFrom = 3)
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, dir, 2))
    assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet == Set((9L, 90L)))
  }

  test("tags: a corrupted ref refuses loudly; tmp debris never parses as a tag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_tagcrc").toString
    Snapshots.commitOverwrite(Seq((1L, 10L)).toDF("id", "x"), dir)
    Snapshots.tag(spark, dir, "rel", 1)
    val ref = java.nio.file.Paths.get(dir, "_tags", "rel.ref")
    val original = java.nio.file.Files.readString(ref)
    assert(original.startsWith("#crc="))
    java.nio.file.Files.writeString(ref, original.replaceFirst("1", "2"))
    val e = intercept[IllegalArgumentException](Snapshots.tagVersion(spark, dir, "rel"))
    assert(e.getMessage.contains("CRC"), e.getMessage)
    java.nio.file.Files.writeString(ref, original)
    // a crashed tagger's tmp file is invisible to the listing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_tags", "rel.ref.tmp-debris"), "junk")
    assert(Snapshots.tags(spark, dir) == Map("rel" -> 1))
  }

  test("metadata aggregation answers from the manifest alone — data files may be gone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_meta").toString
    val rows = (1L to 4000L).map(i => (i, i % 97))
    Snapshots.commitOverwrite(
      rows.toDF("id", "x").repartitionByRange(8, col("id")), dir, Seq("id"))
    assert(Snapshots.metadataRowCount(spark, dir, 1) == 4000L)
    assert(Snapshots.metadataMinMax(spark, dir, 1, "id") == ((1L, 4000L)))
    // interior files count from metadata; at most the two boundary files
    // (the one holding 100, the one holding 3900) pay a residual scan
    val rc = Snapshots.metadataRangeCount(spark, dir, 1, "id", 100L, 3900L)
    assert(rc.count == 3801L)
    assert(rc.filesTotal == 8 && rc.filesFromMetadata >= 1 && rc.filesScanned <= 2,
      s"expected contained-from-metadata + <=2 boundary scans, got $rc")
    // the hard proof of zero data reads: physically remove every data
    // file — the metadata paths still answer; a scan path cannot
    val dataDir = java.nio.file.Paths.get(dir, "data")
    val s = java.nio.file.Files.walk(dataDir)
    try s.filter(p => p.toString.endsWith(".parquet"))
      .forEach(p => java.nio.file.Files.delete(p))
    finally s.close()
    assert(Snapshots.metadataRowCount(spark, dir, 1) == 4000L)
    assert(Snapshots.metadataMinMax(spark, dir, 1, "id") == ((1L, 4000L)))
    val all = Snapshots.metadataRangeCount(spark, dir, 1, "id", 1L, 4000L)
    assert(all.count == 4000L && all.filesScanned == 0,
      s"a range containing every zone map must scan nothing, got $all")
  }

  test("shallow clone: zero-copy birth, independent mutation, safe clone-side vacuum") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_clone").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    val rows = (1L to 2000L).map(i => (i, i % 7))
    Snapshots.commitOverwrite(
      rows.toDF("id", "x").repartitionByRange(4, col("id")), src, Seq("id"))
    Snapshots.cloneTable(spark, src, 1, dst)
    // birth moved zero bytes: the clone owns no data directory, its v1
    // manifest references the source's files verbatim
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst, "data")),
      "clone must not copy data at birth")
    assert(Snapshots.manifest(spark, dst, 1)._2.map(_.path)
      == Snapshots.manifest(spark, src, 1)._2.map(_.path))
    assert(Snapshots.readLatest(spark, dst).count() == 2000L)
    // COW delete on the clone rewrites into CLONE-local storage; the
    // source's copy of the shared files is untouched
    Snapshots.commitDelete(spark, dst, "id", 1L, 500L)
    assert(Snapshots.readLatest(spark, dst).count() == 1500L)
    assert(Snapshots.readLatest(spark, src).count() == 2000L,
      "the clone's delete must never damage the source")
    // a source append never shows up in the clone
    Snapshots.commitAppend(Seq((9999L, 1L)).toDF("id", "x"), src, Seq("id"))
    assert(Snapshots.readLatest(spark, dst).count() == 1500L)
    // vacuuming the clone only walks the CLONE's data/ — shared files
    // under the source survive by construction
    Snapshots.vacuum(spark, dst, keepFrom = 2)
    assert(Snapshots.readLatest(spark, dst).count() == 1500L)
    assert(Snapshots.readLatest(spark, src).count() == 2001L)
    // a clone refuses a target that already has snapshots
    intercept[IllegalArgumentException](Snapshots.cloneTable(spark, src, 1, dst))
  }

  test("COPY INTO ingests each landed file exactly once, by reference") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_copyinto").toString
    val table = s"$root/table"
    val landing = s"$root/landing"
    (1L to 100L).map(i => (i, i % 5)).toDF("id", "x")
      .repartition(2).write.mode("overwrite").parquet(landing)
    assert(Snapshots.copyInto(spark, table, landing, Seq("id")) == ((1, 2)))
    // blind rerun: nothing new, NO version published
    assert(Snapshots.copyInto(spark, table, landing, Seq("id")) == ((0, 0)))
    assert(Snapshots.latestVersion(spark, table) == 1)
    // a new file lands beside the old ones: only it is ingested
    (101L to 120L).map(i => (i, i % 5)).toDF("id", "x")
      .repartition(1).write.mode("append").parquet(landing)
    assert(Snapshots.copyInto(spark, table, landing, Seq("id")) == ((2, 1)))
    assert(Snapshots.readLatest(spark, table).count() == 120L)
    assert(Snapshots.readVersion(spark, table, 1).count() == 100L)
    // zero-copy: the table never wrote data of its own, and zone maps
    // ride the referenced files (metadata aggregation works)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table, "data")),
      "copyInto must reference landed files, not copy them")
    assert(Snapshots.metadataRowCount(spark, table, 2) == 120L)
    assert(Snapshots.metadataMinMax(spark, table, 2, "id") == ((1L, 120L)))
    // the recorded set is exactly the landed basenames
    val f = new java.io.File(landing).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(Snapshots.ingestedSources(spark, table) == f.toSet)
  }

  test("pre-rows manifests refuse metadata counts; the next commit backfills them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_prerows").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir)
    // rewrite v1 as a pre-rows manifest: no #crc (pre-CRC manifests read
    // unchecked), no #rows header, entries without trailing counts
    val mf = java.nio.file.Paths.get(dir, "_manifests", "v1.list")
    val legacy = java.nio.file.Files.readString(mf).linesIterator
      .filterNot(l => l.startsWith("#crc=") || l.startsWith("#rows="))
      .map(l => if (l.startsWith("#")) l else l.split('\t').head)
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(mf, legacy)
    val e = intercept[IllegalArgumentException](Snapshots.metadataRowCount(spark, dir, 1))
    assert(e.getMessage.contains("predates"), e.getMessage)
    // any commit republishes the carried entries WITH counts (one footer
    // read per legacy file, once) — metadata queries work from then on
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "x"), dir)
    assert(Snapshots.metadataRowCount(spark, dir, 2) == 3L)
  }

  test("column rename: metadata-only, schema time travel, generations unify by name") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_rename").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "amount"), dir)
    val rv = Snapshots.commitRename(spark, dir, "amount", "cents")
    assert(rv == 2 && Snapshots.commitOp(spark, dir, 2).contains("rename"))
    // metadata-only: the rename version lists EXACTLY v1's files
    val f1 = Snapshots.manifest(spark, dir, 1)._2.map(_.path).toSet
    assert(Snapshots.manifest(spark, dir, 2)._2.map(_.path).toSet == f1,
      "a rename must not stage or drop a single data file")
    // schema time travel: v1 keeps the old name forever; v2 sees the new
    assert(Snapshots.readVersionEvolved(spark, dir, 1).columns.toSeq == Seq("id", "amount"))
    assert(Snapshots.readVersionEvolved(spark, dir, 2).columns.toSeq == Seq("id", "cents"))
    // an append written under the NEW name: both physical generations
    // unify under `cents`, values intact on each side
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "cents"), dir)
    val got = Snapshots.readLatestEvolved(spark, dir).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L)), s"got $got")
  }

  test("column rename: validation refuses missing sources and name collisions; renames chain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_rename2").toString
    Snapshots.commitOverwrite(Seq((1L, 10L)).toDF("id", "a"), dir)
    intercept[IllegalArgumentException](Snapshots.commitRename(spark, dir, "nope", "b"))
    intercept[IllegalArgumentException](Snapshots.commitRename(spark, dir, "a", "id"))
    intercept[IllegalArgumentException](Snapshots.commitRename(spark, dir, "a", "a"))
    Snapshots.commitRename(spark, dir, "a", "b")
    Snapshots.commitRename(spark, dir, "b", "c")
    // a -> b -> c resolves through both entries on the ORIGINAL files
    assert(Snapshots.readLatestEvolved(spark, dir).columns.toSeq == Seq("id", "c"))
    assert(Snapshots.readLatestEvolved(spark, dir).as[(Long, Long)].collect().toSet
      == Set((1L, 10L)))
    // and the pre-rename version still reads as born
    assert(Snapshots.readVersionEvolved(spark, dir, 1).columns.toSeq == Seq("id", "a"))
  }

  test("merge-on-read delete: zero rewrites, exact reads, carried by appends, folded by OPTIMIZE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_dv").toString
    val base = spark.range(0, 2000).select(col("id"), (col("id") % 100).as("cents"))
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("cents")), dir, Seq("cents"))
    val v1Files = Snapshots.manifest(spark, dir, 1)._2.map(_.path)
    // v2: MOR delete of cents in [10, 29] — the manifest lists EXACTLY
    // v1's files (the zero-rewrite contract), yet reads exclude the range
    Snapshots.commitDeleteMor(spark, dir, "cents", 10L, 29L)
    assert(Snapshots.manifest(spark, dir, 2)._2.map(_.path) == v1Files,
      "a deletion-vector delete must move zero data files")
    def cents(v: Int) = Snapshots.readVersion(spark, dir, v)
      .select("cents").as[Long].collect()
    assert(cents(1).length == 2000, "time travel across a MOR delete keeps v1 whole")
    assert(cents(2).length == 2000 - 20 * 20 && cents(2).forall(c => c < 10 || c > 29))
    // metadata count stays exact (cardinality rides the header); the
    // zone-fold answers refuse rather than include dead rows
    assert(Snapshots.metadataRowCount(spark, dir, 2) == 2000L - 400L)
    intercept[IllegalArgumentException](Snapshots.metadataMinMax(spark, dir, 2, "cents"))
    intercept[IllegalArgumentException](
      Snapshots.metadataRangeCount(spark, dir, 2, "cents", 0L, 50L))
    // zone-pruned range reads apply the vector too
    assert(Snapshots.readVersionRange(spark, dir, 2, "cents", 0L, 39L).count()
      == 2000L / 100L * 20L)
    // incremental reads refuse across the vector change
    intercept[IllegalArgumentException](Snapshots.readChangesSince(spark, dir, 1, 2))
    // deletes ACCUMULATE: v3 kills another range; both stay dead
    Snapshots.commitDeleteMor(spark, dir, "cents", 90L, 99L)
    assert(cents(3).forall(c => (c < 10 || c > 29) && c < 90))
    // an append CARRIES the vector: old dead rows stay dead, new rows live
    Snapshots.commitAppend(
      spark.range(5000, 5010).select(col("id"), lit(15L).as("cents")), dir, Seq("cents"))
    assert(cents(4).count(_ == 15L) == 10L,
      "appended rows are live even inside a previously deleted range")
    assert(cents(4).length == cents(3).length + 10)
    // the change feed carries the MOR-deleted rows, sized by the change
    val feed = Snapshots.readChangeFeed(spark, dir, 1, 3)
    assert(feed.filter(col(Snapshots.ChangeTypeCol) === "delete").count() == 400L + 200L)
    // OPTIMIZE folds: no #dv header, rows bit-identical, rewrite is real
    val v5 = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    assert(Snapshots.dvInfo(spark, dir, v5).isEmpty, "OPTIMIZE must fold the vector away")
    assert(cents(v5).sorted.toSeq == cents(4).sorted.toSeq)
    assert(Snapshots.metadataRangeCount(spark, dir, v5, "cents", 0L, 50L).count
      == Snapshots.readVersion(spark, dir, v5).filter(col("cents").between(0, 50)).count())
    // vacuum reclaims the now-unreferenced vector sidecars
    Snapshots.vacuum(spark, dir, keepFrom = v5)
    val dvRoot = new java.io.File(dir, "dv")
    assert(!dvRoot.exists() || dvRoot.listFiles().isEmpty,
      "no surviving version references a vector; vacuum must reclaim the sidecars")
    assert(cents(v5).length == 2000 - 400 - 200 + 10)
  }

  test("merge-on-read merge: zero rewrites, COW-identical reads and feed, folded by OPTIMIZE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_dvm").toString
    val cow = java.nio.file.Files.createTempDirectory("snap_dvm_cow").toString
    val base = spark.range(0, 2000).select(col("id"), (col("id") % 100).as("cents"))
    Seq(dir, cow).foreach(d =>
      Snapshots.commitOverwrite(base.repartitionByRange(8, col("id")), d, Seq("id")))
    // 500 updates (ids 1500-1999) + 500 inserts (2000-2499), unmistakable payloads
    val changes = spark.range(1500, 2500)
      .select(col("id"), (col("id") % 100 + 100000L).as("cents"))
    val v1Files = Snapshots.manifest(spark, dir, 1)._2.map(_.path)
    Snapshots.commitMergeMor(spark, dir, changes, "id")
    Snapshots.commitMerge(spark, cow, changes, "id")
    // the zero-rewrite contract: EVERY v1 file is still listed at v2
    val v2Paths = Snapshots.manifest(spark, dir, 2)._2.map(_.path)
    assert(v1Files.forall(v2Paths.contains),
      "a deletion-vector merge must carry every existing file by reference")
    def rows(d: String, v: Int) =
      Snapshots.readVersion(spark, d, v).as[(Long, Long)].collect().toSet
    // reads: v1 intact (time travel), v2 bit-identical to the COW twin
    assert(rows(dir, 1) == rows(cow, 1))
    assert(rows(dir, 2) == rows(cow, 2), "MOR and COW merges must be read-indistinguishable")
    assert(rows(dir, 2).count(_._2 >= 100000L) == 1000)
    assert(rows(dir, 2).size == 2500, "500 matched keys must not appear twice")
    // metadata count nets the vector out of the carried-file sum
    assert(Snapshots.metadataRowCount(spark, dir, 2) == 2500L)
    // the change feed is COW's exactly: preimage/postimage/insert parity
    def feed(d: String) = Snapshots.readChangeFeed(spark, d, 1, 2)
      .select(col("id"), col("cents"), col(Snapshots.ChangeTypeCol))
      .as[(Long, Long, String)].collect().toSet
    assert(feed(dir) == feed(cow), "MOR merge must emit the same change records as COW")
    // incremental reads refuse across the merge on both paths
    intercept[IllegalArgumentException](Snapshots.readChangesSince(spark, dir, 1, 2))
    // a SECOND MoR merge must tombstone rows living in the files the
    // FIRST one staged (accumulation over its own postimage files)
    val changes2 = spark.range(1800, 2200)
      .select(col("id"), (col("id") % 100 + 200000L).as("cents"))
    Snapshots.commitMergeMor(spark, dir, changes2, "id")
    val v3 = rows(dir, 3)
    assert(v3.size == 2500)
    assert(v3.count(_._2 >= 200000L) == 400, "re-merged keys carry the second payload once")
    assert(v3.count(t => t._2 >= 100000L && t._2 < 200000L) == 600)
    // OPTIMIZE folds: no vector header, rows bit-identical, then vacuum
    // reclaims the sidecars once no surviving version references them
    val v4 = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    assert(Snapshots.dvInfo(spark, dir, v4).isEmpty, "OPTIMIZE must fold the vector away")
    assert(rows(dir, v4) == v3)
    Snapshots.vacuum(spark, dir, keepFrom = v4)
    val dvRoot = new java.io.File(dir, "dv")
    assert(!dvRoot.exists() || dvRoot.listFiles().isEmpty,
      "no surviving version references a vector; vacuum must reclaim the sidecars")
    assert(rows(dir, v4).size == 2500)
  }

  test("MoR commits that kill no row carry the parent's vector; no empty vector is published") {
    import spark.implicits._
    // even ids 0..198 in 4 contiguous files: an odd id lies inside a
    // file's zone-map range (the file is scanned) yet matches no row
    def table(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"snap_dv_zero_$tag").toString
      Snapshots.commitOverwrite(
        spark.range(0, 200, 2, 4).select(col("id"), (col("id") * 10).as("x")), dir, Seq("id"))
      dir
    }
    def rows(dir: String, v: Int) =
      Snapshots.readVersion(spark, dir, v).as[(Long, Long)].collect().toSet
    def dvEntries(dir: String): Set[String] =
      Option(new java.io.File(dir, "dv").list()).fold(Set.empty[String])(_.toSet)
    // a zero-kill MoR delete, then an insert-only MoR merge, of `id`
    def zeroKills(dir: String, id: Long): Unit = {
      val v0 = Snapshots.latestVersion(spark, dir)
      assert(Snapshots.manifest(spark, dir, v0)._2.exists(e => e.stats(0).min < id && e.stats(0).max > id))
      val (dv0, sidecars0, rows0) = (Snapshots.dvInfo(spark, dir, v0), dvEntries(dir), rows(dir, v0))
      val vd = Snapshots.commitDeleteMor(spark, dir, "id", id, id)
      assert(Snapshots.dvInfo(spark, dir, vd) == dv0, s"zero-kill delete changed the vector at v$vd")
      assert(rows(dir, vd) == rows0)
      val vm = Snapshots.commitMergeMor(spark, dir, Seq((id, -id)).toDF("id", "x"), "id")
      assert(Snapshots.dvInfo(spark, dir, vm) == dv0, s"insert-only merge changed the vector at v$vm")
      assert(rows(dir, vm) == rows0 + ((id, -id)))
      assert(dvEntries(dir) == sidecars0, "a zero-kill commit must leave no new dv/ entry")
    }
    // every entry created directly under `dir`/dv while `body` runs, even
    // one deleted again before `body` returns
    def dvCreates(dir: String)(body: => Unit): Seq[String] = {
      val ws = FileSystems.getDefault.newWatchService()
      try {
        Paths.get(dir, "dv").register(ws, StandardWatchEventKinds.ENTRY_CREATE)
        body
        Iterator.continually(ws.poll(1, TimeUnit.SECONDS)).takeWhile(_ != null).flatMap { key =>
          val names = key.pollEvents().asScala.map(_.context.toString).toList
          key.reset()
          names
        }.toList
      } finally ws.close()
    }
    // no vector live before: none after, so the metadata answers and a
    // rename (both refuse under a live vector) still go through
    val clean = table("clean")
    zeroKills(clean, 51L)
    // nothing staged either: no dv/ directory, not even an emptied one
    assert(!new java.io.File(clean, "dv").exists(), "zero-kill commits on a clean table wrote under dv/")
    val vc = Snapshots.latestVersion(spark, clean)
    assert(Snapshots.dvInfo(spark, clean, vc).isEmpty)
    assert(Snapshots.metadataMinMax(spark, clean, vc, "id") == ((0L, 198L)))
    Snapshots.commitRename(spark, clean, "x", "y")
    assert(Snapshots.readLatestEvolved(spark, clean).as[(Long, Long)].collect().toSet
      == rows(clean, vc))
    // a vector live before: carried by reference, not rewritten
    val live = table("live")
    Snapshots.commitDeleteMor(spark, live, "id", 100L, 110L)
    assert(Snapshots.dvInfo(spark, live, 2).map(_._2).contains(6L))
    // nothing to add to it: not even a staged copy, deleted again, lands
    val staged = dvCreates(live)(zeroKills(live, 53L))
    assert(staged.isEmpty, s"zero-kill commits wrote under dv/: ${staged.mkString(", ")}")
    assert(rows(live, Snapshots.latestVersion(spark, live)).size == 100 - 6 + 1)
  }

  test("merges refuse a repeated key: the message names the key, nothing publishes or stays cached") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_merge_dup").toString
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L)).toDF("card_id", "x"), dir, Seq("card_id"))
    val dup = Seq((2L, 5L), (7L, 1L), (7L, 2L)).toDF("card_id", "x")
    Seq[(String, () => Int)](
      "commitMerge" -> (() => Snapshots.commitMerge(spark, dir, dup, "card_id")),
      "commitMergeMor" -> (() => Snapshots.commitMergeMor(spark, dir, dup, "card_id"))
    ).foreach { case (name, merge) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val e = intercept[IllegalArgumentException](merge())
      assert(e.getMessage.contains("card_id"), s"$name refusal must name the key column: $e")
      assert(Snapshots.latestVersion(spark, dir) == 1, s"$name published a refused batch")
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
        s"$name left persisted frames behind")
    }
    assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet
      == Set((1L, 10L), (2L, 20L)))
  }

  test("bloom sidecars skip files on point lookups and never change results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_bloom").toString
    // cluster on bucket so id is SHUFFLED across files — a zone map on id
    // would span the whole domain in every file (the bloom's raison d'etre)
    val base = spark.range(0, 4000).select(col("id"), (col("id") % 97).as("bucket"))
    Snapshots.commitOverwrite(base.repartitionByRange(8, col("bucket")), dir, Seq("bucket"))
    val total = Snapshots.manifest(spark, dir, 1)._2.size
    assert(Snapshots.buildBlooms(spark, dir, 1, "id", nBits = 1 << 14, nHashes = 5) == total)
    // re-running builds nothing: sidecars are content-addressed by file
    assert(Snapshots.buildBlooms(spark, dir, 1, "id", nBits = 1 << 14, nHashes = 5) == 0)
    // hits scan FEWER files than the manifest lists, and find exactly the row
    Seq(0L, 1234L, 3999L).foreach { id =>
      val files = Snapshots.pointLookupFiles(spark, dir, 1, "id", id)
      assert(files.nonEmpty && files.size < total,
        s"bloom pruning must cut the scan set for id=$id (kept ${files.size}/$total)")
      val got = Snapshots.readVersionPoint(spark, dir, 1, "id", id).as[(Long, Long)].collect()
      assert(got.toSeq == Seq((id, id % 97)))
    }
    // a genuinely absent key prunes everything and returns zero rows
    assert(Snapshots.pointLookupFiles(spark, dir, 1, "id", 999999L).isEmpty)
    assert(Snapshots.readVersionPoint(spark, dir, 1, "id", 999999L).count() == 0)
    // files WITHOUT a sidecar are always scanned: an uncovered append's
    // rows stay findable (blooms prune, never veto)
    Snapshots.commitAppend(
      spark.range(4000, 4100).select(col("id"), (col("id") % 97).as("bucket")),
      dir, Seq("bucket"))
    assert(Snapshots.readVersionPoint(spark, dir, 2, "id", 4050L).count() == 1)
    // a later build covers exactly the uncovered files
    val built = Snapshots.buildBlooms(spark, dir, 2, "id", nBits = 1 << 14, nHashes = 5)
    val total2 = Snapshots.manifest(spark, dir, 2)._2.size
    assert(built == total2 - total, s"built $built, expected ${total2 - total}")
    // a bloom-routed point read still honors the deletion vector
    val deadBucket = 1234L % 97
    Snapshots.commitDeleteMor(spark, dir, "bucket", deadBucket, deadBucket)
    assert(Snapshots.readVersionPoint(spark, dir, 3, "id", 1234L).count() == 0)
    assert(Snapshots.readVersionPoint(spark, dir, 2, "id", 1234L).count() == 1,
      "time travel to the pre-delete version still finds the row")
    // vacuum reclaims the sidecars of dead files alongside the files
    val v4 = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    Snapshots.vacuum(spark, dir, keepFrom = v4)
    val bloomRoot = new java.io.File(dir, "bloom")
    assert(!bloomRoot.exists() || bloomRoot.listFiles().isEmpty,
      "every pre-OPTIMIZE file died; vacuum must reclaim their sidecars")
    // and the un-bloomed post-OPTIMIZE table still answers point reads
    assert(Snapshots.readVersionPoint(spark, dir, v4, "id", 3999L).count() == 1)
  }

  test("zombie writers: two interleaved attempts of ONE batch id land exactly once") {
    import spark.implicits._
    // the check-then-act window the r11 code documented: attempt A
    // publishes between B's batch check and B's version claim. The fix
    // linearizes both against one listing (claim latest+1 exclusively),
    // so across repeated real-thread races exactly one attempt ever lands
    (1 to 6).foreach { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"snap_zombie$i").toString
      assert(Snapshots.commitAppendExactlyOnce(Seq((0L, 0L)).toDF("k", "v"), dir, 0L))
      val rows = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val attempts = (1 to 2).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            override def call(): Boolean = {
              barrier.await()
              Snapshots.commitAppendExactlyOnce(rows, dir, 1L)
            }
          }))
        val landed = attempts.map(_.get()).count(identity)
        assert(landed == 1, s"race $i: $landed attempts of batch 1 landed (must be exactly 1)")
      } finally pool.shutdown()
      assert(Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toSet
        == Set((0L, 0L), (1L, 10L), (2L, 20L)),
        s"race $i: duplicated or lost batch rows")
    }
  }

  // One case per schema-change kind. The `_schema/<kind>-<seq>.list`
  // entries are hand-written in the established on-disk format (CRC line,
  // `#version=`, the kind's `#k=v` fields, then the file keys), so the
  // spec also pins that format: the real change must write the same bytes
  // and publish an op=<kind> manifest naming its seq in `#<kind>seq=`.
  Seq[(String, String, String => Int, Seq[String])](
    ("rename", "#from=amount\n#to=cents\n",
      Snapshots.commitRename(spark, _, "amount", "cents"), Seq("id:long", "cents:integer")),
    ("widen", "#column=amount\n#from=integer\n#to=long\n",
      Snapshots.commitWiden(spark, _, "amount", "long"), Seq("id:long", "amount:long")),
    ("drop", "#column=amount\n",
      Snapshots.commitDropColumn(spark, _, "amount"), Seq("id:long"))
  ).foreach { case (kind, fields, change, evolvedSchema) =>
    test(s"a claimed-but-never-published $kind entry is inert; vacuum reclaims it once dead") {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory(s"snap_${kind}_crash").toString
      Snapshots.commitOverwrite(Seq((1L, 10)).toDF("id", "amount"), dir)
      val born = Snapshots.readLatest(spark, dir).schema
      def entryBytes(version: Int): String = {
        val fileKeys = Snapshots.manifest(spark, dir, version - 1)._2
          .map(e => new org.apache.hadoop.fs.Path(e.path).toUri.getPath)
        val payload = s"#version=$version\n$fields" + fileKeys.mkString("", "\n", "\n")
        val crc = { val c = new java.util.zip.CRC32; c.update(payload.getBytes("UTF-8")); c.getValue }
        s"#crc=$crc\n$payload"
      }
      // simulate a change that crashed between claiming its schema entry
      // and publishing its manifest: the entry names the UNPUBLISHED v2
      val sd = new java.io.File(dir, "_schema"); sd.mkdirs()
      val entry = java.nio.file.Paths.get(sd.toString, s"$kind-1.list")
      java.nio.file.Files.writeString(entry, entryBytes(2))
      // pending (v2 unpublished): no reader applies it
      assert(Snapshots.readLatestEvolved(spark, dir).schema == born,
        s"an unpublished $kind must not change the schema")
      // an append lands at v2 — the entry is now PROVABLY dead and stays inert
      Snapshots.commitAppend(Seq((2L, 20)).toDF("id", "amount"), dir)
      assert(Snapshots.readLatestEvolved(spark, dir).schema == born,
        s"a version claimed by another commit must never activate a stale $kind")
      // vacuum purges the dead entry while the manifest proving it dead exists
      Snapshots.vacuum(spark, dir, keepFrom = 1)
      assert(!entry.toFile.exists(), s"vacuum must reclaim provably dead $kind entries")
      // and a REAL change still works afterwards, writing the same format
      assert(change(dir) == 3)
      assert(java.nio.file.Files.readString(entry) == entryBytes(3))
      val mf = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, "_manifests", "v3.list"))
      assert(mf.contains(s"#op=$kind") && mf.contains(s"#${kind}seq=1"), s"v3 manifest: $mf")
      def evolved = Snapshots.readLatestEvolved(spark, dir)
      assert(evolved.schema.map(f => s"${f.name}:${f.dataType.typeName}") == evolvedSchema)
      assert(evolved.count() == 2L)
      // a validated entry outlives the manifest that published it
      Snapshots.commitAppend(evolved.filter(col("id") === 1L), dir)
      Snapshots.vacuum(spark, dir, keepFrom = 4)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_manifests", "v3.list")))
      assert(entry.toFile.exists(), s"vacuum must keep the live $kind entry")
      assert(evolved.schema.map(f => s"${f.name}:${f.dataType.typeName}") == evolvedSchema)
      assert(evolved.count() == 3L)
    }
  }

  test("rewrite commits refuse while a rename is active; OPTIMIZE folds it and unblocks them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_rename_rewrite").toString
    Snapshots.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("amount")),
      dir, statsCols = Seq("id"))
    Snapshots.commitRename(spark, dir, "amount", "cents")
    // delete/merge would read mixed physical schemas (or stage files that
    // escape the rename's fileKeys scope) — both refuse loudly
    val e1 = intercept[IllegalArgumentException](
      Snapshots.commitDelete(spark, dir, "id", 10L, 20L))
    assert(e1.getMessage.contains("commitOptimize"), s"refusal should name the fold: $e1")
    intercept[IllegalArgumentException](
      Snapshots.commitMerge(spark, dir, Seq((1L, 111L)).toDF("id", "cents"), "id"))
    // OPTIMIZE reads THROUGH the mapping and rewrites under the new name
    val v = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    val (statsCols, entries) = Snapshots.manifest(spark, dir, v)
    assert(statsCols == Seq("id"))
    // post-fold the PHYSICAL schema is uniform: a raw read shows `cents`
    assert(spark.read.parquet(entries.map(_.path): _*).columns.toSet == Set("id", "cents"))
    assert(Snapshots.readLatestEvolved(spark, dir)
      .select(sum(col("cents"))).as[Long].head() == (0 until 100).map(_ * 10L).sum)
    // and the rewrite commits are legal again
    Snapshots.commitDelete(spark, dir, "id", 10L, 19L)
    assert(Snapshots.readLatestEvolved(spark, dir).count() == 90L)
    Snapshots.commitMerge(spark, dir, Seq((1L, 111L)).toDF("id", "cents"), "id")
    assert(Snapshots.readLatestEvolved(spark, dir)
      .filter(col("id") === 1L).select(col("cents")).as[Long].head() == 111L)
  }

  test("OPTIMIZE folding a renamed STATS column carries the zone maps under the new name") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_rename_stats").toString
    Snapshots.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("amount")),
      dir, statsCols = Seq("amount"))
    Snapshots.commitRename(spark, dir, "amount", "cents")
    val v = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    assert(Snapshots.manifest(spark, dir, v)._1 == Seq("cents"),
      "the stats header must follow the fold (post-fold physical name = logical name)")
    assert(Snapshots.readVersionRange(spark, dir, v, "cents", 100L, 200L).count() == 11L)
    // and a zone-mapped delete on the folded column works
    Snapshots.commitDelete(spark, dir, "cents", 0L, 90L)
    assert(Snapshots.readLatestEvolved(spark, dir).count() == 90L)
  }

  test("type widening: metadata-only, schema time travel, generations unify by cast") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dir = java.nio.file.Files.createTempDirectory("snap_widen").toString
    Snapshots.commitOverwrite(Seq((1L, 10), (2L, 20)).toDF("id", "amount"), dir)
    assert(Snapshots.readLatest(spark, dir).schema("amount").dataType == IntegerType)
    val wv = Snapshots.commitWiden(spark, dir, "amount", "long")
    assert(wv == 2 && Snapshots.commitOp(spark, dir, 2).contains("widen"))
    // metadata-only: the widen version lists EXACTLY v1's files
    val f1 = Snapshots.manifest(spark, dir, 1)._2.map(_.path).toSet
    assert(Snapshots.manifest(spark, dir, 2)._2.map(_.path).toSet == f1,
      "a widening must not stage or drop a single data file")
    // schema time travel: v1 keeps the narrow type forever; v2 is wide
    assert(Snapshots.readVersionEvolved(spark, dir, 1).schema("amount").dataType == IntegerType)
    assert(Snapshots.readVersionEvolved(spark, dir, 2).schema("amount").dataType == LongType)
    // an append written natively wide: both physical generations unify
    // under the wide type, values intact on each side
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "amount"), dir)
    val latest = Snapshots.readVersionEvolved(spark, dir, 3)
    assert(latest.schema("amount").dataType == LongType)
    assert(latest.as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // validation: unknown column; a cast that is not value-preserving
    intercept[IllegalArgumentException](Snapshots.commitWiden(spark, dir, "nope", "long"))
    intercept[IllegalArgumentException](Snapshots.commitWiden(spark, dir, "amount", "int"))
    intercept[IllegalArgumentException](Snapshots.commitWiden(spark, dir, "amount", "string"))
  }

  test("rewrite commits and renames refuse while a widening is active; OPTIMIZE folds it") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val dir = java.nio.file.Files.createTempDirectory("snap_widen_rewrite").toString
    Snapshots.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") * 10).cast("int").as("amount")),
      dir, statsCols = Seq("id"))
    Snapshots.commitWiden(spark, dir, "amount", "long")
    // delete/merge/rename would read (or stage against) mixed physical
    // types — all refuse loudly, naming the fold
    val e1 = intercept[IllegalArgumentException](
      Snapshots.commitDelete(spark, dir, "id", 10L, 20L))
    assert(e1.getMessage.contains("commitOptimize"), s"refusal should name the fold: $e1")
    intercept[IllegalArgumentException](
      Snapshots.commitMerge(spark, dir, Seq((1L, 111L)).toDF("id", "amount"), "id"))
    intercept[IllegalArgumentException](
      Snapshots.commitRename(spark, dir, "amount", "cents"))
    // OPTIMIZE reads THROUGH the mapping and rewrites physically wide
    val v = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    val entries = Snapshots.manifest(spark, dir, v)._2
    assert(spark.read.parquet(entries.map(_.path): _*).schema("amount").dataType == LongType,
      "post-fold the physical schema must be uniformly wide")
    assert(Snapshots.readVersionEvolved(spark, dir, v)
      .select(sum(col("amount"))).as[Long].head() == (0 until 100).map(_ * 10L).sum)
    // and the previously refused commits are legal again
    Snapshots.commitDelete(spark, dir, "id", 10L, 19L)
    assert(Snapshots.readLatestEvolved(spark, dir).count() == 90L)
    Snapshots.commitRename(spark, dir, "amount", "cents")
    assert(Snapshots.readLatestEvolved(spark, dir).columns.toSet == Set("id", "cents"))
  }

  test("column drop: metadata-only, schema time travel, projection unifies generations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_drop").toString
    Snapshots.commitOverwrite(
      Seq((1L, 10L, 7L), (2L, 20L, 8L)).toDF("id", "amount", "flag"), dir)
    val dv = Snapshots.commitDropColumn(spark, dir, "flag")
    assert(dv == 2 && Snapshots.commitOp(spark, dir, 2).contains("drop"))
    // metadata-only: the drop version lists EXACTLY v1's files
    val f1 = Snapshots.manifest(spark, dir, 1)._2.map(_.path).toSet
    assert(Snapshots.manifest(spark, dir, 2)._2.map(_.path).toSet == f1,
      "a drop must not stage or drop a single data file")
    // schema time travel: v1 still sees the column; v2 does not
    assert(Snapshots.readVersionEvolved(spark, dir, 1).columns.toSeq == Seq("id", "amount", "flag"))
    assert(Snapshots.readVersionEvolved(spark, dir, 2).columns.toSeq == Seq("id", "amount"))
    // an append written WITHOUT the column: mixed physical generations
    // unify under the projected schema, values intact
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "amount"), dir)
    assert(Snapshots.readVersionEvolved(spark, dir, 3).as[(Long, Long)].collect().toSet
      == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // validation: unknown column; the last column refuses
    intercept[IllegalArgumentException](Snapshots.commitDropColumn(spark, dir, "nope"))
    Snapshots.commitDropColumn(spark, dir, "amount")
    intercept[IllegalArgumentException](Snapshots.commitDropColumn(spark, dir, "id"))
  }

  test("rewrite commits refuse while a drop is active; OPTIMIZE folds it; stats columns refuse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_drop_rewrite").toString
    Snapshots.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("amount"),
        (col("id") % 2).as("flag")),
      dir, statsCols = Seq("id"))
    // a zone-map stats column refuses to drop outright
    intercept[IllegalArgumentException](Snapshots.commitDropColumn(spark, dir, "id"))
    Snapshots.commitDropColumn(spark, dir, "flag")
    val e1 = intercept[IllegalArgumentException](
      Snapshots.commitDelete(spark, dir, "id", 10L, 20L))
    assert(e1.getMessage.contains("commitOptimize"), s"refusal should name the fold: $e1")
    intercept[IllegalArgumentException](
      Snapshots.commitRename(spark, dir, "amount", "cents"))
    // OPTIMIZE folds: the rewritten files physically lack the column
    val v = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    val entries = Snapshots.manifest(spark, dir, v)._2
    assert(!spark.read.parquet(entries.map(_.path): _*).columns.contains("flag"),
      "post-fold the dropped column must be physically gone")
    assert(Snapshots.readVersionEvolved(spark, dir, v)
      .select(sum(col("amount"))).as[Long].head() == (0 until 100).map(_ * 10L).sum)
    // and the previously refused commits are legal again
    Snapshots.commitDelete(spark, dir, "id", 10L, 19L)
    assert(Snapshots.readLatestEvolved(spark, dir).count() == 90L)
  }

  test("OPTIMIZE re-declares zone-map stats; the freed column can then drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_stats_redecl").toString
    Snapshots.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("amount"),
        (col("id") % 2).as("flag")),
      dir, statsCols = Seq("id"))
    intercept[IllegalArgumentException](Snapshots.commitDropColumn(spark, dir, "id"))
    // a bogus override refuses before anything publishes
    intercept[IllegalArgumentException](Snapshots.commitOptimize(
      spark, dir, targetFileBytes = 1L << 20, statsColsOverride = Some(Seq("nope"))))
    val v = Snapshots.commitOptimize(
      spark, dir, targetFileBytes = 1L << 20, statsColsOverride = Some(Seq("amount")))
    assert(Snapshots.manifest(spark, dir, v)._1 == Seq("amount"),
      "the rewrite must publish under the overridden declaration")
    assert(Snapshots.readVersionRange(spark, dir, v, "amount", 100L, 200L).count() == 11L)
    // the formerly-declared column is now droppable — the exact remedy
    // commitDropColumn's refusal names
    Snapshots.commitDropColumn(spark, dir, "id")
    assert(Snapshots.readLatestEvolved(spark, dir).columns.toSeq == Seq("amount", "flag"))
  }

  test("vacuumPlan predicts exactly what vacuum deletes; post-vacuum it reads zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_vacplan").toString
    Snapshots.commitOverwrite(spark.range(0, 1000).select(col("id"), col("id").as("v")), dir)
    Snapshots.commitOverwrite(spark.range(0, 10).select(col("id"), col("id").as("v")), dir)
    val (n, bytes) = Snapshots.vacuumPlan(spark, dir, keepFrom = 2)
    assert(n > 0 && bytes > 0L, s"v1's orphaned files must be planned ($n files, $bytes bytes)")
    val deleted = Snapshots.vacuum(spark, dir, keepFrom = 2)
    assert(deleted == n, s"plan said $n, vacuum deleted $deleted")
    assert(Snapshots.vacuumPlan(spark, dir, keepFrom = 2) == ((0, 0L)),
      "after the vacuum the plan must be empty")
    assert(Snapshots.readLatest(spark, dir).count() == 10L)
  }

  test("over-threshold merge batches drop the broadcast hint; results identical") {
    import spark.implicits._
    // spark.graft.broadcastMaxRows gates every change-key / deletion-vector
    // broadcast: AT scale an unbounded forced broadcast is a driver OOM
    // (guide §3.1 — the 8 GB / 512M-row relation cap), so past the
    // threshold the hint is dropped and the planner chooses the join.
    // Pin the threshold below this batch's key count and below the DV row
    // count so BOTH merge flavors and the DV read take the unhinted path,
    // then assert bit-identical tables and change feeds.
    def lifecycle(tag: String): (Map[Long, Long], Map[Long, Long], Set[(Long, String, Long)]) = {
      val dir = java.nio.file.Files.createTempDirectory(s"snap_bcast_$tag").toString
      val rows = (1L to 4000L).map(i => (i, i % 97))
      Snapshots.commitOverwrite(
        rows.toDF("id", "x").repartitionByRange(8, col("id")), dir, Seq("id"))
      val changes = ((200L to 260L) ++ (5001L to 5005L)).map(i => (i, -i)).toDF("id", "x")
      Snapshots.commitMerge(spark, dir, changes, "id")
      val cow = Snapshots.readLatest(spark, dir).as[(Long, Long)].collect().toMap
      val dirM = java.nio.file.Files.createTempDirectory(s"snap_bcast_mor_$tag").toString
      Snapshots.commitOverwrite(
        rows.toDF("id", "x").repartitionByRange(8, col("id")), dirM, Seq("id"))
      Snapshots.commitDeleteMor(spark, dirM, "id", 100L, 199L)
      Snapshots.commitMergeMor(spark, dirM, changes, "id")
      val mor = Snapshots.readLatest(spark, dirM).as[(Long, Long)].collect().toMap
      val feed = Snapshots
        .readChangeFeed(spark, dirM, 1, 3)
        .select(col("id"), col(Snapshots.ChangeTypeCol), col(Snapshots.ChangeVersionCol))
        .as[(Long, String, Long)]
        .collect()
        .toSet
      (cow, mor, feed)
    }
    val before = lifecycle("hint")
    spark.conf.set("spark.graft.broadcastMaxRows", "3")
    try {
      val after = lifecycle("shuffle")
      assert(after == before,
        "dropping the broadcast hint past the threshold must not change any result")
    } finally spark.conf.unset("spark.graft.broadcastMaxRows")
  }

  test("widen refuses while a rename is active (the mutual half)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap_widen_mutual").toString
    Snapshots.commitOverwrite(
      Seq((1L, 10L, 5), (2L, 20L, 6)).toDF("id", "amount", "n"), dir)
    Snapshots.commitRename(spark, dir, "amount", "cents")
    val e = intercept[IllegalArgumentException](Snapshots.commitWiden(spark, dir, "n", "long"))
    assert(e.getMessage.contains("commitOptimize"), s"refusal should name the fold: $e")
    Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    Snapshots.commitWiden(spark, dir, "n", "long")
    assert(Snapshots.readLatestEvolved(spark, dir).schema("n").dataType
      == org.apache.spark.sql.types.LongType)
  }
}
