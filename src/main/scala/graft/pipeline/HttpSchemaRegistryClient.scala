package graft.pipeline

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import scala.jdk.CollectionConverters._

/** Client view of a schema registry — the seam between the pipeline and the
  * schema store. [[SchemaRegistry]] is the in-process implementation (zero
  * egress CI); [[HttpSchemaRegistryClient]] speaks the Confluent REST
  * protocol the reference's serializer/deserializer use
  * (AvroProducer.java:50, AvroConsumer.java:69). */
trait SchemaRegistryClient {
  def register(subject: String, schema: Schema): Int
  def schemaById(id: Int): Option[Schema]
  def latestIdFor(subject: String): Option[Int]

  /** Serializable (id -> schema JSON) snapshot for shipping to executors.
    * Registry I/O happens HERE, at plan time, on the driver — executors
    * never open a connection (a 1000-executor cluster hammering the
    * registry per task is the classic self-inflicted DDoS). */
  def snapshot(): Map[Int, String]
}

/** Confluent Schema Registry REST client on bare `HttpURLConnection`, with
  * Jackson (already on the classpath) for the JSON — the wire protocol is
  * a few tiny endpoints, not worth a client dependency:
  *
  *  - `POST /subjects/{subject}/versions` body `{"schema":"<escaped>"}`
  *    → `{"id":N}` (register; idempotent for an already-known schema)
  *  - `GET /schemas/ids/{id}` → `{"schema":"<escaped>"}`
  *  - `GET /subjects/{subject}/versions/latest` → `{...,"id":N,...}`
  *  - `GET /subjects` / `GET /subjects/{s}/versions` (snapshot walk)
  *
  * All methods are driver-side; [[snapshot]] materializes the full id→schema
  * map so [[ConfluentAvro.decodeAuto]], the one decoder, can ship it in the
  * task closure. */
class HttpSchemaRegistryClient(baseUrl: String) extends SchemaRegistryClient {
  private val base = baseUrl.stripSuffix("/")
  private val json = new ObjectMapper()

  override def register(subject: String, schema: Schema): Int = {
    val body = json.writeValueAsString(java.util.Map.of("schema", schema.toString))
    val resp = http("POST", s"$base/subjects/$subject/versions", Some(body))
    field(resp, "id").map(_.asInt)
      .getOrElse(sys.error(s"registry register returned no id: $resp"))
  }

  override def schemaById(id: Int): Option[Schema] =
    httpOpt("GET", s"$base/schemas/ids/$id", None)
      .flatMap(field(_, "schema"))
      .map(s => new Schema.Parser().parse(s.asText))

  override def latestIdFor(subject: String): Option[Int] =
    httpOpt("GET", s"$base/subjects/$subject/versions/latest", None)
      .flatMap(field(_, "id")).map(_.asInt)

  override def snapshot(): Map[Int, String] = {
    def array(url: String): Seq[JsonNode] =
      httpOpt("GET", url, None).map(json.readTree(_).elements().asScala.toSeq).getOrElse(Seq.empty)
    array(s"$base/subjects").map(_.asText).flatMap { subj =>
      array(s"$base/subjects/$subj/versions").map(_.asInt).flatMap { v =>
        httpOpt("GET", s"$base/subjects/$subj/versions/$v", None).flatMap { resp =>
          for {
            id <- field(resp, "id")
            schema <- field(resp, "schema")
          } yield id.asInt -> schema.asText
        }
      }
    }.toMap
  }

  private def field(resp: String, name: String): Option[JsonNode] =
    Option(json.readTree(resp).get(name))

  private def http(method: String, url: String, body: Option[String]): String =
    httpOpt(method, url, body).getOrElse(sys.error(s"$method $url failed"))

  private def httpOpt(method: String, url: String, body: Option[String]): Option[String] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(5000)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/vnd.schemaregistry.v1+json")
        val out = conn.getOutputStream
        try out.write(b.getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      val code = conn.getResponseCode
      if (code == 404) None
      else if (code >= 200 && code < 300) {
        val in = conn.getInputStream
        try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
      } else sys.error(s"$method $url -> HTTP $code")
    } finally conn.disconnect()
  }
}
