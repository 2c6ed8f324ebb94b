package graft

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized lifecycle walks over the metadata-only schema-evolution
  * plane (rename / widen / drop / append / OPTIMIZE), checked against a
  * driver-side model — the interaction surface (which verb is legal
  * when, what each version reads after any history) is exactly where
  * the per-verb example specs can't reach. Each seeded walk:
  *
  *   - maintains the expected LOGICAL table (rows as name→value maps,
  *     plus each column's expected narrow/wide type) and a per-version
  *     snapshot of both;
  *   - before every evolution verb, predicts from the model whether the
  *     engine must REFUSE (another mapping kind active on live files) —
  *     a refusal that fires without the model predicting it, or one
  *     that fails to fire when predicted, fails the walk;
  *   - after every committed step, compares `readLatestEvolved` (the
  *     evolved read) row-for-row and column-for-column against the
  *     model;
  *   - at seeded points, VACUUMS every version below the latest and
  *     compares the latest again: a mapping whose publishing manifest was
  *     vacuumed must stay applied (the suite asserts this happened for
  *     every kind);
  *   - at the end, TIME-TRAVELS every retained version and compares it
  *     against the model's snapshot as of that version — later verbs
  *     must never leak backwards.
  *
  * Determinism: fixed seeds, no wall clock. Rows are tiny — the walk's
  * value is the op-sequence coverage, not volume.
  */
class SchemaEvolutionPropertySpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("4")

  /** Model: column order + types ("int" | "long"), rows by column name. */
  private case class Model(
      cols: Vector[(String, String)],
      rows: Vector[Map[String, Long]],
      renameActive: Boolean,
      widenActive: Boolean,
      dropActive: Boolean)

  private def toDf(cols: Vector[(String, String)], rows: Vector[Map[String, Long]]): DataFrame = {
    val schema = StructType(cols.map {
      case (n, "int")  => StructField(n, IntegerType)
      case (n, _)      => StructField(n, LongType)
    })
    val data = rows.map(r =>
      Row.fromSeq(cols.map {
        case (n, "int") => r(n).toInt
        case (n, _)     => r(n)
      }))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def observed(df: DataFrame): (Vector[String], Set[Map[String, Long]]) = {
    val cols = df.columns.toVector
    val rows = df.collect().map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        c -> (r.get(i) match {
          case i32: java.lang.Integer => i32.longValue()
          case l: java.lang.Long      => l.longValue()
          case other                  => fail(s"unexpected cell type $other"); 0L
        })
      }.toMap
    }.toSet
    (cols, rows)
  }

  private def check(df: DataFrame, m: Model, what: String): Unit = {
    val (cols, rows) = observed(df)
    assert(cols == m.cols.map(_._1), s"$what: columns ${cols} != model ${m.cols.map(_._1)}")
    assert(rows == m.rows.toSet, s"$what: rows diverge (got ${rows.size}, want ${m.rows.size})")
  }

  /** Returns the kinds that were active, with their publishing manifest
    * vacuumed, when the walk checked the latest read.
    */
  private def walk(seed: Int): Set[String] = {
    val rnd = new scala.util.Random(seed)
    // vacuum points draw from their own stream, so the op sequence of a
    // seed is the same with or without them
    val vacuumRnd = new scala.util.Random(seed + 1)
    var retainedFrom = 1
    // per kind: the version of its oldest change still active on live files
    var activeSince = Map.empty[String, Int]
    var vacuumedActive = Set.empty[String]
    val dir = java.nio.file.Files.createTempDirectory(s"snap_evo_$seed").toString
    var nextId = 0L
    var nextName = 0
    def freshRows(cols: Vector[(String, String)], n: Int): Vector[Map[String, Long]] =
      Vector.fill(n) {
        nextId += 1
        cols.map { case (c, t) =>
          c -> (if (t == "int") rnd.nextInt(1000).toLong else nextId * 100 + rnd.nextInt(100))
        }.toMap
      }
    var m = Model(
      cols = Vector("id" -> "long", "a" -> "int", "b" -> "long"),
      rows = Vector.empty,
      renameActive = false, widenActive = false, dropActive = false)
    val first = freshRows(m.cols, 3)
    m = m.copy(rows = first)
    Snapshots.commitOverwrite(toDf(m.cols, first), dir)
    val snapshots = scala.collection.mutable.Map(1 -> m)
    var version = 1

    def refusePredicted(kind: String): Boolean = kind match {
      // each verb refuses while a DIFFERENT kind is active on live files
      case "rename" => m.widenActive || m.dropActive
      case "widen"  => m.renameActive || m.dropActive
      case "drop"   => m.renameActive || m.widenActive
      case _        => false
    }

    (1 to 14).foreach { step =>
      val choice = rnd.nextInt(10)
      if (choice < 3) { // append under the CURRENT logical schema
        val add = freshRows(m.cols, 2)
        version = Snapshots.commitAppend(toDf(m.cols, add), dir)
        m = m.copy(rows = m.rows ++ add)
      } else if (choice < 5) { // rename a random column
        val (from, t) = m.cols(rnd.nextInt(m.cols.size))
        val to = { nextName += 1; s"r$nextName" }
        if (refusePredicted("rename")) {
          val e = intercept[IllegalArgumentException](Snapshots.commitRename(spark, dir, from, to))
          assert(e.getMessage.contains("commitOptimize"), s"walk $seed step $step: $e")
        } else {
          version = Snapshots.commitRename(spark, dir, from, to)
          activeSince = activeSince.updated("rename", activeSince.getOrElse("rename", version))
          m = m.copy(
            cols = m.cols.map { case (c, ct) => (if (c == from) to else c, ct) },
            rows = m.rows.map(r => r.map { case (c, v) => (if (c == from) to else c, v) }),
            renameActive = true)
        }
      } else if (choice < 7) { // widen an int column, if any
        m.cols.find(_._2 == "int").foreach { case (c, _) =>
          if (refusePredicted("widen")) {
            val e = intercept[IllegalArgumentException](Snapshots.commitWiden(spark, dir, c, "long"))
            assert(e.getMessage.contains("commitOptimize"), s"walk $seed step $step: $e")
          } else {
            version = Snapshots.commitWiden(spark, dir, c, "long")
            activeSince = activeSince.updated("widen", activeSince.getOrElse("widen", version))
            m = m.copy(
              cols = m.cols.map { case (cc, ct) => (cc, if (cc == c) "long" else ct) },
              widenActive = true)
          }
        }
      } else if (choice < 8 && m.cols.size >= 2) { // drop a non-id column
        val candidates = m.cols.filter(_._1 != "id")
        if (candidates.nonEmpty) {
          val (c, _) = candidates(rnd.nextInt(candidates.size))
          if (refusePredicted("drop")) {
            val e = intercept[IllegalArgumentException](Snapshots.commitDropColumn(spark, dir, c))
            assert(e.getMessage.contains("commitOptimize"), s"walk $seed step $step: $e")
          } else {
            version = Snapshots.commitDropColumn(spark, dir, c)
            activeSince = activeSince.updated("drop", activeSince.getOrElse("drop", version))
            m = m.copy(
              cols = m.cols.filterNot(_._1 == c),
              rows = m.rows.map(_ - c),
              dropActive = true)
          }
        }
      } else { // OPTIMIZE: folds every active mapping
        version = Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
        activeSince = Map.empty
        m = m.copy(renameActive = false, widenActive = false, dropActive = false)
      }
      snapshots(version) = m
      check(Snapshots.readLatestEvolved(spark, dir), m, s"walk $seed step $step (v$version)")
      if (vacuumRnd.nextBoolean()) { // retention: only the latest version survives
        Snapshots.vacuum(spark, dir, keepFrom = version)
        retainedFrom = version
        vacuumedActive ++= activeSince.filter(_._2 < version).keys
        check(Snapshots.readLatestEvolved(spark, dir), m, s"walk $seed step $step vacuumed to v$version")
      }
    }

    // time travel: every retained version must read as its recorded
    // model — later verbs never leak backwards
    (retainedFrom to version).foreach { v =>
      snapshots.get(v).foreach { sm =>
        check(Snapshots.readVersionEvolved(spark, dir, v), sm, s"walk $seed time-travel v$v")
      }
    }
    // post-fold invariant: after one more OPTIMIZE the PHYSICAL schema
    // is uniform — a raw read equals the evolved read
    Snapshots.commitOptimize(spark, dir, targetFileBytes = 1L << 20)
    m = m.copy(renameActive = false, widenActive = false, dropActive = false)
    val entries = Snapshots.manifest(spark, dir, Snapshots.latestVersion(spark, dir))._2
    check(spark.read.parquet(entries.map(_.path): _*)
      .select(m.cols.map(c => col(c._1)): _*), m, s"walk $seed post-fold raw read")
    vacuumedActive
  }

  test("seeded evolution walks: evolved reads, refusals, and time travel match the model") {
    // seed 2 is the walk in which a widening stays active across a vacuum
    // point (in 21 and 1913 the next step folds it)
    val vacuumedActive = Seq(7, 21, 1913, 2).flatMap(walk).toSet
    assert(vacuumedActive == Set("rename", "widen", "drop"),
      s"no walk vacuumed the manifest of an active ${Set("rename", "widen", "drop") -- vacuumedActive}")
  }
}
