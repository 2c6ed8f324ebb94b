package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Deletion-vector plane property walks — the SchemaEvolutionPropertySpec
  * convention applied to the write paths: seeded random op sequences
  * (append / COW delete / MoR delete / COW merge / MoR merge / OPTIMIZE)
  * against a driver-side model, asserting after every commit that the
  * latest read equals the model, that a randomly chosen HISTORICAL
  * version still reads exactly as recorded when it was latest (time
  * travel across any interleaving of vectors and folds), and that the
  * COW and MoR forms of the same operation are interchangeable at any
  * point in history — the read-side indistinguishability contract the
  * targeted SnapshotsSpec tests pin pairwise, here exercised across
  * arbitrary compositions. Each commit's change feed must also replay
  * the previous model state into the new one, with every record typed
  * as the model says (an insert is a new key, a preimage or delete is
  * the previous row), and no commit may leave a persisted RDD behind.
  */
class DvPropertySpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("4")

  test("seeded MoR/COW walks: reads and time travel match the model at every step") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"dv_walk$seed").toString
      var nextId = 1000L
      def freshRows(n: Int): Seq[(Long, Long)] = {
        val rows = (0 until n).map(i => (nextId + i, 1L + rnd.nextInt(100).toLong))
        nextId += n
        rows
      }
      // model: live rows as id -> cents; snaps(v-1) = the state at version v
      var live = Map.empty[Long, Long]
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
      val base = freshRows(40)
      live = base.toMap
      Snapshots.commitOverwrite(
        base.toDF("id", "cents").repartition(4), dir, Seq("cents", "id"))
      snaps += live
      def readMap(v: Int): Map[Long, Long] =
        Snapshots.readVersion(spark, dir, v).as[(Long, Long)].collect().toMap
      def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
      // apply v's change feed to the state at v-1: inserts and postimages
      // upsert, deletes remove, preimages only check the row they replace
      def replay(prev: Map[Long, Long], v: Int): Map[Long, Long] =
        Snapshots.readChangeFeed(spark, dir, v - 1, v)
          .select(col("id"), col("cents"), col(Snapshots.ChangeTypeCol))
          .as[(Long, Long, String)]
          .collect()
          .foldLeft(prev) { case (m, (id, c, t)) =>
            val was = prev.get(id)
            t match {
              case "insert" =>
                assert(was.isEmpty, s"v$v: insert of existing key $id")
                m + (id -> c)
              case "update_postimage" =>
                assert(was.nonEmpty, s"v$v: postimage of absent key $id")
                m + (id -> c)
              case "update_preimage" =>
                assert(was.contains(c), s"v$v: preimage ($id, $c) is not the previous row $was")
                m
              case "delete" =>
                assert(was.contains(c), s"v$v: delete ($id, $c) is not the previous row $was")
                m - id
            }
          }
      (1 to 12).foreach { step =>
        val before = persisted()
        rnd.nextInt(6) match {
          case 0 =>
            val rows = freshRows(1 + rnd.nextInt(8))
            live = live ++ rows
            Snapshots.commitAppend(rows.toDF("id", "cents"), dir, Seq("cents", "id"))
            snaps += live
          case 1 | 2 =>
            val lo = 1L + rnd.nextInt(90)
            val hi = lo + rnd.nextInt(20)
            live = live.filterNot { case (_, c) => c >= lo && c <= hi }
            if (rnd.nextBoolean()) Snapshots.commitDelete(spark, dir, "cents", lo, hi)
            else Snapshots.commitDeleteMor(spark, dir, "cents", lo, hi)
            snaps += live
          case 3 | 4 =>
            val updated = rnd
              .shuffle(live.keys.toList.sorted)
              .take(rnd.nextInt(6))
              .map(id => (id, 500L + rnd.nextInt(100).toLong))
            val changes = updated ++ freshRows(rnd.nextInt(4))
            if (changes.nonEmpty) {
              live = live ++ changes
              if (rnd.nextBoolean())
                Snapshots.commitMerge(spark, dir, changes.toDF("id", "cents"), "id")
              else Snapshots.commitMergeMor(spark, dir, changes.toDF("id", "cents"), "id")
              snaps += live
            }
          case 5 =>
            Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
            snaps += live
        }
        val v = Snapshots.latestVersion(spark, dir)
        assert(persisted() == before, s"seed $seed step $step: the commit left persisted RDDs")
        assert(v == snaps.size, s"seed $seed step $step: version/model drift")
        if (v >= 2)
          assert(replay(snaps(v - 2), v) == live, s"seed $seed step $step: feed replay diverged")
        assert(readMap(v) == live, s"seed $seed step $step: latest read diverged")
        val hv = 1 + rnd.nextInt(v)
        assert(readMap(hv) == snaps(hv - 1),
          s"seed $seed step $step: time travel to v$hv diverged")
      }
      // the walk's final fold: one OPTIMIZE clears any live vector and the
      // table still reads the model exactly
      val folded = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
      assert(Snapshots.dvInfo(spark, dir, folded).isEmpty)
      assert(readMap(folded) == live, s"seed $seed: post-fold read diverged")
    }
  }
}
