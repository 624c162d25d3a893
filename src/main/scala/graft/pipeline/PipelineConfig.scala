package graft.pipeline

import java.io.StringReader
import java.nio.file.{Files, Path}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

/** Config-envelope front end (r9 verdict #7): the reference is driven by
  * `config.properties` files — `01-infra/src/main/resources/config.
  * properties` (topic partition/replica counts, MySQL url), `02-producer`
  * (`thread.count.per.producer:5`, `message.count.per.topic:8`), and
  * `03-consumer` (`max.poll.records:7`, `poll.interval.ms:8`,
  * `blocking.queue.size:9`, `mysql.maxPoolSize:15`). The engine exposed the
  * equivalent knobs as code parameters; this loader accepts the reference's
  * EXACT property keys and maps each to its engine knob, so a reference
  * deployment's config files drive the Spark pipeline unchanged.
  *
  * Key ↦ knob mapping (SURVEY §2.1 / §2.3.9):
  *  - `kafka.topic.partition.count` / `kafka.topic.replica-factor.count` ↦
  *    [[TopicAdmin.recreate]]'s n×r create (R4);
  *  - `thread.count.per.producer` ↦ produce-side partition parallelism —
  *    the reference fans one producer into N threads (R16, obsolete by
  *    design: Spark tasks ARE the fan-out), so the engine reads it as the
  *    `numPartitions` of [[ConfluentAvro.encode]];
  *  - `message.count.per.topic` ↦ [[RecordGenerator.generate]]'s row count;
  *  - `max.poll.records` ↦ `maxOffsetsPerTrigger` /
  *    `maxFilesPerTrigger` admission control (R11 backpressure — the
  *    scheduler only admits what the trigger allows, replacing the
  *    reference's bounded BlockingQueue);
  *  - `poll.interval.ms` ↦ `Trigger.ProcessingTime` (the reference's
  *    100 ms poll loop cadence, AvroConsumer.java:116-118);
  *  - `blocking.queue.size` ↦ intentionally ABSORBED: the hand-rolled
  *    queue between poll loop and DB writer does not exist in Structured
  *    Streaming (micro-batches are the queue); retained for
  *    round-trippability, exposed for completeness;
  *  - `mysql.maxPoolSize` ↦ [[TransactionalJdbcSink]]'s per-executor
  *    connection budget (R15's pool, obsolete as a pool but the BUDGET
  *    still caps sink-side connection fan-out);
  *  - `kafka.bootstrap.servers` / `kafka.topics` /
  *    `kafka.schema.registry.url` / `mysql.url|username|password` ↦ passed
  *    through to [[graft.streaming.StreamingPipeline.kafkaSource]],
  *    [[HttpSchemaRegistryClient]], and the JDBC sink verbatim.
  *
  * PipelineSpec round-trips all three SHIPPED reference files against
  * this mapping: read verbatim from a reference checkout when one is
  * present, else from the minimal copies of their keys under
  * `src/test/resources/reference`. */
final case class PipelineConfig(props: Map[String, String]) {

  def get(key: String): Option[String] = props.get(key)
  def apply(key: String): String = props.getOrElse(key,
    throw new NoSuchElementException(s"config key '$key' absent"))
  private def int(key: String): Int = apply(key).trim.toInt

  // 01-infra keys
  def topicPartitionCount: Int = int("kafka.topic.partition.count")
  def topicReplicaFactor: Short = int("kafka.topic.replica-factor.count").toShort

  // 02-producer keys
  def threadCountPerProducer: Int = int("thread.count.per.producer")
  def messageCountPerTopic: Long = apply("message.count.per.topic").trim.toLong

  // 03-consumer keys
  def maxPollRecords: Long = apply("max.poll.records").trim.toLong
  def pollInterval: Trigger =
    Trigger.ProcessingTime(apply("poll.interval.ms").trim.toLong,
      java.util.concurrent.TimeUnit.MILLISECONDS)
  def blockingQueueSize: Int = int("blocking.queue.size")
  def mysqlMaxPoolSize: Int = int("mysql.maxPoolSize")

  // shared transport keys
  def kafkaBootstrapServers: String = apply("kafka.bootstrap.servers")
  def kafkaTopics: Seq[String] =
    apply("kafka.topics").split(',').map(_.trim).filter(_.nonEmpty).toSeq
  def schemaRegistryUrl: String = apply("kafka.schema.registry.url")
  def mysqlUrl: String = apply("mysql.url")
  def mysqlUsername: String = apply("mysql.username")
  def mysqlPassword: String = apply("mysql.password")

  /** The consumer envelope as a ready [[graft.streaming.StreamingPipeline.
    * SourceSpec]] per topic — bootstrap/subscription/backpressure wired
    * from the reference keys. */
  def kafkaSources: Seq[graft.streaming.StreamingPipeline.SourceSpec] =
    kafkaTopics.map(t => graft.streaming.StreamingPipeline.kafkaSource(
      t, kafkaBootstrapServers, maxOffsetsPerTrigger = maxPollRecords))
}

object PipelineConfig {

  /** Parse `config.properties` CONTENT (java.util.Properties grammar — the
    * exact parser the reference's ResourceBundle family uses for these
    * files: `key=value`, `#` comments, blank lines). */
  def parse(content: String): PipelineConfig = {
    val p = new Properties()
    p.load(new StringReader(content))
    PipelineConfig(p.asScala.toMap)
  }

  /** Load a properties file from disk. */
  def load(path: Path): PipelineConfig =
    parse(Files.readString(path))

  def load(path: String): PipelineConfig = load(Path.of(path))
}
