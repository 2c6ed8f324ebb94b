package graft.store

import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, JArray, JObject, JValue}
import org.json4s.jackson.JsonMethods

/** Declarative feature-group schema, parsed from the reference's JSON
  * schema files (SURVEY.md §1.1/§1.5; shape: the reference's
  * `notebooks/schema/cc-agg-fg-schema.json:3-27`, parsing: its
  * `notebooks/1_setup.ipynb` `create_feature_group_from_schema`). The in-repo
  * copies of both schema files are `src/test/resources/reference-schema/`,
  * transcribed from SURVEY §1.1/§1.5 and FIXTURES §4 (see FeatureGroupSchemaSpec).
  *
  * Reference semantics reproduced:
  *   - the type map: `double` -> Fractional, `bigint` -> Integral, anything
  *     else -> String (the notebook's exact three-way branch);
  *   - `record_identifier_feature_name` / `event_time_feature_name`
  *     designations (every group must name both);
  *   - tags as Key/Value pairs. The two shipped schema files have SWAPPED
  *     prose descriptions (SURVEY §1.5) — the `IngestionType` tag and the
  *     feature lists are the authoritative signal, so [[ingestionType]]
  *     reads the tag, never the description;
  *   - both `features` and `Features` spellings are accepted: the
  *     notebook's own two parsers disagree (`schema_to_defs` reads
  *     `Features`, `create_feature_group_from_schema` reads `features`).
  *
  * The Spark projection: Integral -> LongType, Fractional -> DoubleType,
  * String -> StringType ([[structType]]), which is what makes the store
  * typed — 16-digit card numbers exceed 2^53 and silently lose precision
  * in a double-only store.
  */
final case class FeatureGroupSchema(
    description: String,
    features: Seq[FeatureGroupSchema.FeatureDef],
    recordIdentifier: String,
    eventTimeFeature: String,
    tags: Map[String, String]) {

  import FeatureGroupSchema._

  require(
    features.exists(_.name == recordIdentifier),
    s"record identifier '$recordIdentifier' must be a declared feature")
  require(
    features.exists(_.name == eventTimeFeature),
    s"event time feature '$eventTimeFeature' must be a declared feature")

  def featureType(name: String): FeatureType =
    features.find(_.name == name).map(_.tpe).getOrElse(FeatureType.FString)

  /** Authoritative ingestion mode — from the tag, NOT the description
    * (the shipped descriptions are swapped, SURVEY §1.5).
    */
  def ingestionType: Option[String] = tags.get("IngestionType")

  /** Spark schema: Integral -> long, Fractional -> double, String -> string. */
  def structType: StructType =
    StructType(features.map(f => StructField(f.name, f.tpe.sparkType, nullable = false)))
}

object FeatureGroupSchema {

  /** The reference's three FeatureType values (Integral/Fractional/String). */
  sealed abstract class FeatureType(val sparkType: DataType)
  object FeatureType {
    case object Integral extends FeatureType(LongType)
    case object Fractional extends FeatureType(DoubleType)
    case object FString extends FeatureType(StringType)

    /** The notebook's exact branch: double -> Fractional, bigint ->
      * Integral, else String.
      */
    def fromDeclared(t: String): FeatureType = t match {
      case "double" => Fractional
      case "bigint" => Integral
      case _ => FString
    }
  }

  final case class FeatureDef(name: String, declaredType: String) {
    val tpe: FeatureType = FeatureType.fromDeclared(declaredType)
  }

  private implicit val formats: DefaultFormats.type = DefaultFormats

  def fromJson(text: String): FeatureGroupSchema = {
    val root = JsonMethods.parse(text)
    val featuresJson: JValue = (root \ "features") match {
      case JArray(xs) => JArray(xs)
      case _ => root \ "Features" // the schema_to_defs spelling
    }
    val defs = featuresJson match {
      case JArray(items) =>
        items.map { item =>
          FeatureDef((item \ "name").extract[String], (item \ "type").extract[String])
        }
      case _ => throw new IllegalArgumentException("schema has no features/Features array")
    }
    val tags = (root \ "tags") match {
      case JArray(items) =>
        items.collect { case o: JObject =>
          (o \ "Key").extract[String] -> (o \ "Value").extract[String]
        }.toMap
      case _ => Map.empty[String, String]
    }
    FeatureGroupSchema(
      description = (root \ "description").extractOpt[String].getOrElse(""),
      features = defs,
      recordIdentifier = (root \ "record_identifier_feature_name").extract[String],
      eventTimeFeature = (root \ "event_time_feature_name").extract[String],
      tags = tags)
  }

  def load(path: String): FeatureGroupSchema =
    fromJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
}
