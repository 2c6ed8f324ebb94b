package graft

import graft.store.{FeatureGroupSchema, TypedFeatureStore}
import graft.store.FeatureGroupSchema.FeatureType
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Feature-group schema loader against the reference's own schema files
  * (SURVEY §1.1/§1.5) and the typed store round-trip.
  *
  * Input files. `src/test/resources/reference-schema/` holds the reference's
  * `notebooks/schema/cc-agg-fg-schema.json` and `cc-agg-batch-fg-schema.json`
  * as TRANSCRIPTIONS, not byte copies: every value comes from SURVEY.md §1.1
  * (the "Feature schema" row for the shape; the type rows for `cc_num` bigint,
  * the counters bigint, `avg_amt_*` and `trans_time` double), §1.5 (the
  * swapped prose and the `IngestionType` tags) and FIXTURES.md §4 (the feature
  * lists, record identifier `cc_num`, event time `trans_time`). Left out or
  * given placeholders, since no document records them:
  *   - each file's top-level `description` holds only the phrase SURVEY §1.5
  *     quotes ("batch ingestion nightly" / "streamed intraday"), not the full
  *     prose;
  *   - every per-feature `description` is the placeholder string
  *     "placeholder: per-feature prose not recorded in this repo";
  *   - `tags` holds only the `IngestionType` pair; any other tag is left out;
  *   - the line layout is not the reference's, so the reference line numbers
  *     cited in SURVEY.md/FIXTURES.md do not apply to the copies.
  * The first two tests run over the copies and, when a reference checkout is
  * present, over its real files too: `notebooks/schema/` under the directory
  * the environment variable `REFERENCE_DIR` names, or under this checkout's
  * sibling `reference/` directory when it is unset.
  */
class FeatureGroupSchemaSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4")

  private lazy val refSchemaDir: String = {
    val url = getClass.getResource("/reference-schema")
    require(url != null,
      "test resource directory reference-schema/ (src/test/resources/reference-schema) " +
        "is not on the test classpath")
    java.nio.file.Paths.get(url.toURI).toString
  }

  private lazy val checkoutSchemaDir: Option[String] = {
    val dir = java.nio.file.Paths.get(sys.env.getOrElse("REFERENCE_DIR", "../reference"))
      .resolve("notebooks/schema")
    Option.when(java.nio.file.Files.isDirectory(dir))(dir.toString)
  }

  /** Registers `name` once; its body runs over every schema directory above. */
  private def testSchemaDirs(name: String)(body: String => Unit): Unit =
    test(name) {
      for (dir <- refSchemaDir +: checkoutSchemaDir.toSeq) withClue(s"[$dir] ")(body(dir))
    }

  testSchemaDirs("loads both reference schema files with the notebook's type map") { dir =>
    val fg = FeatureGroupSchema.load(s"$dir/cc-agg-fg-schema.json")
    val batch = FeatureGroupSchema.load(s"$dir/cc-agg-batch-fg-schema.json")

    assert(fg.features.map(_.name) ==
      Seq("cc_num", "num_trans_last_10m", "avg_amt_last_10m", "trans_time"))
    assert(batch.features.map(_.name) ==
      Seq("cc_num", "num_trans_last_1w", "avg_amt_last_1w", "trans_time"))
    assert(fg.featureType("cc_num") == FeatureType.Integral)
    assert(fg.featureType("num_trans_last_10m") == FeatureType.Integral)
    assert(fg.featureType("avg_amt_last_10m") == FeatureType.Fractional)
    assert(fg.featureType("trans_time") == FeatureType.Fractional)
    assert(fg.recordIdentifier == "cc_num" && fg.eventTimeFeature == "trans_time")
    assert(batch.recordIdentifier == "cc_num" && batch.eventTimeFeature == "trans_time")

    assert(fg.structType == StructType(Seq(
      StructField("cc_num", LongType, nullable = false),
      StructField("num_trans_last_10m", LongType, nullable = false),
      StructField("avg_amt_last_10m", DoubleType, nullable = false),
      StructField("trans_time", DoubleType, nullable = false))))
  }

  testSchemaDirs("swapped-description quirk: the IngestionType tag is authoritative, not the prose") { dir =>
    val fg = FeatureGroupSchema.load(s"$dir/cc-agg-fg-schema.json")
    val batch = FeatureGroupSchema.load(s"$dir/cc-agg-batch-fg-schema.json")
    // The shipped files have swapped prose (SURVEY §1.5): the 10m streaming
    // group SAYS "batch ingestion nightly" and vice versa...
    assert(fg.description.contains("batch ingestion nightly"))
    assert(batch.description.contains("streamed intraday"))
    // ...but the tags carry the truth, and that is what ingestionType reads.
    assert(fg.ingestionType.contains("Streaming"))
    assert(batch.ingestionType.contains("Batch"))
  }

  test("accepts the schema_to_defs 'Features' spelling and unknown types map to String") {
    val s = FeatureGroupSchema.fromJson(
      """{"description":"d",
        | "Features":[{"name":"id","type":"bigint"},{"name":"label","type":"varchar"},
        |             {"name":"ts","type":"double"}],
        | "record_identifier_feature_name":"id",
        | "event_time_feature_name":"ts"}""".stripMargin)
    assert(s.features.map(_.tpe) ==
      Seq(FeatureType.Integral, FeatureType.FString, FeatureType.Fractional))
    assert(s.tags.isEmpty)
    assert(s.structType.fields.map(_.dataType).toSeq == Seq(LongType, StringType, DoubleType))
  }

  test("typed store round-trip: ValueAsString in, exact types out, LWW by event time") {
    val schema = FeatureGroupSchema.load(s"$refSchemaDir/cc-agg-fg-schema.json")
    val store = new TypedFeatureStore(schema)
    // 16-digit card number above 2^53: exact as Long, corrupted as double
    val cc = "9999999999999997"
    assert(cc.toLong.toDouble.toLong != cc.toLong, "test card must not be double-representable")
    store.putRecord(Map(
      "cc_num" -> cc, "num_trans_last_10m" -> "4",
      "avg_amt_last_10m" -> "42.5", "trans_time" -> "1590000000.25"))
    val rec = store.getRecord(cc.toLong).get
    assert(rec("cc_num") == cc.toLong)
    assert(rec("num_trans_last_10m") == 4L)
    assert(rec("avg_amt_last_10m") == 42.5)
    assert(rec("trans_time") == 1590000000.25)
    assert(store.getRecordAsStrings(cc.toLong).get("cc_num") == cc)

    // stale put (older event time) is ignored; equal-time put wins
    store.putRecord(Map(
      "cc_num" -> cc, "num_trans_last_10m" -> "1",
      "avg_amt_last_10m" -> "1.0", "trans_time" -> "1589999999.0"))
    assert(store.getRecord(cc.toLong).get("num_trans_last_10m") == 4L)
    store.putRecord(Map(
      "cc_num" -> cc, "num_trans_last_10m" -> "7",
      "avg_amt_last_10m" -> "51.0", "trans_time" -> "1590000000.25"))
    assert(store.getRecord(cc.toLong).get("num_trans_last_10m") == 7L)

    // snapshot carries the typed schema end-to-end
    val snap = store.snapshot(spark)
    assert(snap.schema == schema.structType)
    val row = snap.collect().head
    assert(row.getLong(0) == cc.toLong && row.getLong(1) == 7L)

    // a record missing a declared feature is rejected
    assertThrows[IllegalArgumentException] {
      store.putRecord(Map("cc_num" -> "1", "trans_time" -> "1.0"))
    }
  }

  test("Integral event times above 2^53 compare as Long, not via a Double detour") {
    import graft.store.FeatureGroupSchema.FeatureDef
    val schema = FeatureGroupSchema(
      description = "nanosecond-event-time group",
      features = Seq(FeatureDef("id", "bigint"), FeatureDef("t_ns", "bigint"),
        FeatureDef("v", "double")),
      recordIdentifier = "id",
      eventTimeFeature = "t_ns",
      tags = Map.empty)
    val store = new TypedFeatureStore(schema)
    // consecutive nanosecond stamps above 2^53: equal after a Double
    // round-trip, so a Double-coerced LWW would wrongly accept the stale put
    val t1 = (1L << 53) + 1L
    val t0 = (1L << 53) // == t1.toDouble bit pattern
    assert(t1.toDouble == t0.toDouble, "stamps must collide as doubles")
    store.putRecord(Map("id" -> "7", "t_ns" -> t1.toString, "v" -> "2.0"))
    store.putRecord(Map("id" -> "7", "t_ns" -> t0.toString, "v" -> "9.0"))
    assert(store.getRecord(7L).get("v") == 2.0, "older Long stamp must lose LWW")
  }
}
