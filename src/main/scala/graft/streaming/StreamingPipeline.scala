package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.TransactionalJdbcSink

/** Streaming wrap of the pipeline layer (SURVEY §7 M7): source → Avro
  * decode → exactly-once JDBC sink, re-expressing the reference consumer
  * end-to-end on Structured Streaming.
  *
  * Reference ↦ Spark mapping (SURVEY §2.3.9):
  *  - per-partition consumer threads + assign/seek (AvroConsumer.java:80-93,
  *    03-consumer/Main.java:42-64) ↦ source partition-parallelism + the
  *    checkpoint offset log — restart resumes exactly where it stopped;
  *  - poll loop every 100 ms (AvroConsumer.java:116-118) ↦
  *    Trigger.ProcessingTime;
  *  - max.poll.records=10 rate cap + bounded-queue backpressure
  *    (config.properties(03):7-9, AvroConsumer.java:142-155) ↦
  *    maxFilesPerTrigger / maxOffsetsPerTrigger admission control — no
  *    hand-rolled queue, the scheduler only admits what the trigger allows;
  *  - per-record MySQL txn (row + offset) (AvroConsumer.java:157-194) ↦
  *    foreachBatch + TransactionalJdbcSink: per-(batch, partition) txn with
  *    ledger-row idempotence. Batch replay after a kill is a no-op — the
  *    README kill-drill (README.md:242-276) as a property, not a procedure.
  *
  * Kafka note: this environment ships no spark-kafka connector jar, so the
  * bundled sources are file and memory; on a cluster with the connector the
  * same code takes `spark.readStream.format("kafka")` + maxOffsetsPerTrigger
  * — everything downstream of `source` is format-agnostic.
  */
object StreamingPipeline {

  /** Transport descriptor — the SINGLE seam where source config is built.
    * Everything downstream of [[open]] (decode → dedup → sink) is
    * format-agnostic, so swapping file ↔ kafka is a SourceSpec swap, not a
    * pipeline rewrite. The kafka branch can't execute here (no connector
    * jar in the sandbox) but its option construction is contract-tested:
    * the only untested thing left is the jar itself. */
  final case class SourceSpec(format: String, options: Map[String, String],
                              schema: Option[StructType] = None)

  /** Kafka transport spec with the reference consumer's semantics
    * (AvroConsumer.java:61-93, config.properties(03):7-9):
    *  - explicit topic subscription (the reference `assign`s all partitions
    *    of one topic — `subscribe` on a single topic is the same coverage);
    *  - `startingOffsets`: the reference seeks to the LAST STORED offset at
    *    startup, or earliest when none — in Structured Streaming the
    *    checkpoint plays the offset store, so `earliest` only seeds the
    *    FIRST run (every restart resumes from the checkpoint exactly like
    *    the reference's seek);
    *  - `maxOffsetsPerTrigger` ≙ max.poll.records: bounds per-micro-batch
    *    intake (R11 backpressure);
    *  - `failOnDataLoss=true`: the reference treats a missing stored offset
    *    as a hard error (it never silently skips) — so do we. */
  def kafkaSource(topic: String, bootstrapServers: String,
                  maxOffsetsPerTrigger: Long,
                  startingOffsets: String = "earliest"): SourceSpec =
    SourceSpec("kafka", Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
      "failOnDataLoss" -> "true"))

  /** Rate-capped file transport spec — the Kafka-less stand-in for R9+R11.
    * maxFilesPerTrigger ≙ max.poll.records: bounds per-micro-batch intake. */
  def fileSourceSpec(dir: String, schema: StructType,
                     maxFilesPerTrigger: Int = 1): SourceSpec =
    SourceSpec("parquet",
      Map("path" -> dir, "maxFilesPerTrigger" -> maxFilesPerTrigger.toString),
      Some(schema))

  /** Open a transport spec as a streaming DataFrame. Kafka's fixed output
    * columns (key binary, value binary, topic, partition, offset, …) line
    * up with [[graft.pipeline.ConfluentAvro.decodeAuto]]'s `value` contract
    * directly (the decode is a mapPartitions projection, so it runs
    * unchanged on a stream); file sources carry the declared schema. */
  def open(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val r = spark.readStream.format(spec.format).options(spec.options)
    spec.schema.foreach(r.schema)
    r.load()
  }

  /** Rate-capped file stream source (R9+R11 stand-in), via the [[open]]
    * seam — the golden streaming suite exercises the same entry path a
    * kafka deployment would. */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
                 maxFilesPerTrigger: Int = 1): DataFrame =
    open(spark, fileSourceSpec(dir, schema, maxFilesPerTrigger))

  /** Run a stream into the exactly-once JDBC sink. The checkpoint supplies
    * replay (the reference's seek-to-stored-offset), the ledger supplies
    * idempotence (the reference's offset-in-same-txn). */
  def toJdbc(df: DataFrame, sink: TransactionalJdbcSink, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => sink.writeBatch(batch, batchId))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
