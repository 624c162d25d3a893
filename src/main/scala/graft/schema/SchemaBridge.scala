package graft.schema

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A dataset schema in the reference's simple JSON dialect:
  * `[{"name": "dataset1", "fields": {"key_field1": "string", ...}}, ...]`
  * (reference schema/schema_before.json:1-29). Field order is preserved —
  * the reference keys Kafka messages by schema POSITION 0
  * (AvroProducer.java:81), so order is semantic. */
case class SimpleSchema(name: String, fields: Seq[(String, String)])

/** Schema IR conversions: simple-JSON dialect ↔ Avro record schema ↔ Spark
  * StructType ↔ catalog DDL. Re-implements the reference's schema pipeline
  * (DataPipeline.createSchema, DataPipeline.java:28-78; type switch
  * :178-199) on Spark's type system. No spark-avro module ships in this
  * environment, so the Avro leg is hand-built on org.apache.avro directly.
  */
object SchemaBridge {
  private val mapper = new ObjectMapper()

  /** The reference's `integer` → `int` alias rewrite (DataPipeline.java:50). */
  def normalizeType(t: String): String =
    if (t == "integer") "int" else t

  /** Parse the simple JSON dialect. Unknown types fail fast (the reference
    * throws IllegalArgumentException in its generator, AvroProducer.java:121). */
  def parseSimple(json: String): Seq[SimpleSchema] = {
    val root = mapper.readTree(json)
    require(root.isArray, "simple schema document must be a JSON array")
    root.elements().asScala.map { node =>
      val name = node.get("name").asText()
      // iterate in document order: mapping the entry Set view would build
      // a hash set and lose the declared (semantic) field order
      val fields = node.get("fields").properties().iterator.asScala
        .map(e => e.getKey -> normalizeType(e.getValue.asText())).toSeq
      fields.foreach { case (f, t) =>
        require(SparkTypes.contains(t), s"unsupported type '$t' for field '$f'")
      }
      SimpleSchema(name, fields)
    }.toSeq
  }

  /** The complete type universe of the reference (SURVEY §1.2): the 6 Avro
    * primitives of DataPipeline.createTable's switch. */
  val SparkTypes: Map[String, DataType] = Map(
    "boolean" -> BooleanType,
    "int"     -> IntegerType,
    "long"    -> LongType,
    "float"   -> FloatType,
    "double"  -> DoubleType,
    "string"  -> StringType)

  /** MySQL DDL column types of the reference (DataPipeline.java:178-199),
    * mapped to Spark catalog DDL. */
  val DdlTypes: Map[String, String] = Map(
    "boolean" -> "BOOLEAN",
    "int"     -> "INT",
    "long"    -> "BIGINT",
    "float"   -> "FLOAT",
    "double"  -> "DOUBLE",
    "string"  -> "STRING")

  def toStructType(ss: SimpleSchema): StructType =
    StructType(ss.fields.map { case (f, t) =>
      // reference fields carry no null union (schema_avro.json) → non-nullable
      StructField(f, SparkTypes(t), nullable = false)
    })

  /** Simple schema → Avro record schema, mirroring the reference's
    * createSchema output: type=record, namespace=com.exam
    * (DataPipeline.java:36-44). */
  def toAvro(ss: SimpleSchema, namespace: String = "com.exam"): Schema = {
    var b = SchemaBuilder.record(ss.name).namespace(namespace).fields()
    ss.fields.foreach { case (f, t) =>
      // the dialect's type names ARE Avro's primitive names
      require(SparkTypes.contains(t), s"unsupported type $t")
      b = b.name(f).`type`(Schema.create(Schema.Type.valueOf(t.toUpperCase(Locale.ROOT)))).noDefault()
    }
    b.endRecord()
  }

  /** Avro record schema → StructType (primitive fields only — the reference
    * has no nested/union types, SURVEY §1.2). */
  def avroToStruct(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD, s"not a record: $schema")
    StructType(schema.getFields.asScala.map { f =>
      val t = f.schema().getType.getName
      StructField(f.name(), SparkTypes.getOrElse(t,
        throw new IllegalArgumentException(s"unsupported avro type $t")), nullable = false)
    }.toSeq)
  }

  /** StructType → Avro record schema (inverse of avroToStruct). */
  def structToAvro(name: String, st: StructType, namespace: String = "com.exam"): Schema =
    toAvro(SimpleSchema(name, st.fields.toSeq.map { f =>
      val t = SparkTypes.collectFirst { case (k, v) if v == f.dataType => k }
        .getOrElse(throw new IllegalArgumentException(s"unsupported spark type ${f.dataType}"))
      f.name -> t
    }), namespace)

  /** CREATE TABLE DDL, the Spark-catalog analogue of the reference's MySQL
    * table-per-schema (DataPipeline.java:162-208). */
  def createTableDdl(ss: SimpleSchema, database: String = "graft"): String = {
    val cols = ss.fields.map { case (f, t) => s"`$f` ${DdlTypes(t)}" }.mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $database.`${ss.name}` ($cols) USING parquet"
  }
}
