package graft.pipeline

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types._

/** Transactional exactly-once JDBC sink — the Spark-native re-expression of
  * the reference's core guarantee (SURVEY §4.3.3): the reference commits
  * each row AND its Kafka offset in one MySQL transaction
  * (AvroConsumer.java:157-194) with the offset ledger in a `kafka_offsets`
  * table (DataPipeline.java:150-159; upsert MySQLProcessData.java:65-92).
  *
  * Lifted from per-record to per-(micro-batch, slot) ledger rows, committed
  * one transaction per task:
  *   - ledger key (query_id, batch_id, partition_id) ≙ (group, topic,
  *     partition)+offset — a slot's rows and its ledger row commit
  *     atomically, in the same transaction as the task's other slots;
  *   - slot identity is bound to the DATA, not to runtime partition ids:
  *     the batch is repartitioned on a hash of the full row into a FIXED
  *     `numSlots` before writing, so a row's slot is a pure function of its
  *     content — exactly the stability the reference gets from (topic,
  *     partition, offset). Keying on the raw TaskContext partition id would
  *     break replay whenever the replayed batch partitions differently (AQE
  *     re-plan, changed spark.sql.shuffle.partitions, different file
  *     splits): a skipped pid could then hold different rows (silent loss)
  *     while reshuffled rows re-insert under new pids (duplicates). The
  *     ledger records numSlots and refuses a replay under a different count;
  *   - the slots are coalesced onto the cluster's task slots
  *     (min(numSlots, defaultParallelism) tasks, each holding whole slots),
  *     and each task writes all of its slots in ONE transaction;
  *   - replay of a batch/slot (Spark task retry, stream restart from
  *     checkpoint) finds the ledger row and SKIPS — idempotent, zero dupes;
  *   - Structured Streaming's checkpoint supplies the seek/replay half the
  *     reference does with consumer.seek (AvroConsumer.java:83-93).
  *
  * Scale: one connection and one transaction per task, batched inserts (the
  * reference inserts one row per txn — its config caps at ~100
  * rec/s/partition; per-task txns amortize that cost away). Works against
  * any JDBC URL; tests use embedded Derby (the JDBC engine shipped with
  * Spark).
  */
class TransactionalJdbcSink(
    url: String,
    dataTable: String,
    queryId: String,
    ledgerTable: String = "batch_ledger",
    numSlots: Int = 32,
    dialect: SinkDialect = AnsiDialect) extends Serializable {

  // ---- DDL ----

  private def q(ident: String): String = dialect.quote(ident)

  // table-already-exists SQLStates: Derby X0Y32, MySQL 42S01, Postgres 42P07
  private val ExistsStates = Set("X0Y32", "42S01", "42P07")

  private def execIgnoreExists(conn: Connection, ddl: String): Unit = {
    val st = conn.createStatement()
    try st.execute(ddl)
    catch { case e: SQLException if ExistsStates.contains(e.getSQLState) => () }
    finally st.close()
  }

  def ensureTables(schema: StructType): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      execIgnoreExists(conn, dialect.createTable(dataTable, schema))
      execIgnoreExists(conn,
        s"""CREATE TABLE ${q(ledgerTable)} (
           |  query_id VARCHAR(100) NOT NULL,
           |  batch_id BIGINT NOT NULL,
           |  partition_id INT NOT NULL,
           |  row_count BIGINT,
           |  n_slots INT,
           |  PRIMARY KEY (query_id, batch_id, partition_id))""".stripMargin)
      // migrate a ledger created before the n_slots column existed —
      // CREATE above is a no-op on an existing table, and every read/write
      // here names n_slots explicitly, so a legacy table would brick the
      // sink without this
      val probe = conn.createStatement()
      try probe.executeQuery(s"""SELECT n_slots FROM ${q(ledgerTable)} WHERE 1=0""").close()
      catch {
        case _: SQLException =>
          val alter = conn.createStatement()
          try alter.execute(s"""ALTER TABLE ${q(ledgerTable)} ADD COLUMN n_slots INT""")
          finally alter.close()
      } finally probe.close()
    } finally conn.close()
  }

  // ---- write path ----

  /** Dynamic INSERT from the row schema — the reference builds the same
    * statement from each record's Avro schema (MySQLProcessData.java:100-113). */
  private def insertSql(schema: StructType): String =
    dialect.insertSql(dataTable, schema.fields.map(_.name).toSeq)

  private def sqlType(dt: DataType): Int = dt match {
    case IntegerType => java.sql.Types.INTEGER
    case LongType    => java.sql.Types.BIGINT
    case DoubleType  => java.sql.Types.DOUBLE
    case FloatType   => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case StringType  => java.sql.Types.VARCHAR
    case _           => java.sql.Types.OTHER
  }

  /** Per-type bind, mirroring MySQLProcessData.setParameter (:132-156).
    * Nulls bind as SQL NULL — `null.asInstanceOf[Int]` silently unboxes to
    * 0 in Scala, which would corrupt nullable numeric columns. */
  private def bind(ps: PreparedStatement, i: Int, v: Any, dt: DataType): Unit =
    if (v == null) ps.setNull(i, sqlType(dt))
    else dt match {
      case IntegerType => ps.setInt(i, v.asInstanceOf[Int])
      case LongType    => ps.setLong(i, v.asInstanceOf[Long])
      case DoubleType  => ps.setDouble(i, v.asInstanceOf[Double])
      case FloatType   => ps.setFloat(i, v.asInstanceOf[Float])
      case BooleanType => ps.setBoolean(i, v.asInstanceOf[Boolean])
      case StringType  => ps.setString(i, v.asInstanceOf[String])
      case other       => ps.setObject(i, v)
    }

  /** Some(recorded n_slots) if this (batch, slot) is already committed.
    * A committed row with NULL n_slots (written before the n_slots
    * migration) throws with its real cause — `rs.getInt` alone would
    * surface NULL as 0 and the error would misreport "numSlots=0". */
  private def ledgerSlots(conn: Connection, batchId: Long, pid: Int): Option[Int] = {
    val ps = conn.prepareStatement(
      s"""SELECT n_slots FROM ${q(ledgerTable)} WHERE query_id=? AND batch_id=? AND partition_id=?""")
    try {
      ps.setString(1, queryId); ps.setLong(2, batchId); ps.setInt(3, pid)
      val rs = ps.executeQuery()
      try {
        if (!rs.next()) None
        else {
          val recorded = rs.getInt(1)
          if (rs.wasNull())
            throw new IllegalStateException(
              s"ledger row for ($queryId, batch $batchId, slot $pid) predates " +
                "the n_slots migration (NULL n_slots); its slot layout is " +
                "unknowable — re-ledger the batch before replaying")
          Some(recorded)
        }
      } finally rs.close()
    } finally ps.close()
  }

  /** One task's slots in ONE transaction. `rows` holds whole slots, each
    * slot's rows contiguous, with the slot id as the last column. A slot
    * whose (batch, slot) is already in the ledger is skipped — the
    * idempotence that makes replay exactly-once; a ledger row written
    * under another slot count refuses the batch. The ledger rows go in
    * last, so another task's ledger lookups rarely meet an uncommitted
    * row. */
  private def writeSlots(rows: Iterator[Row], schema: StructType, batchId: Long): Unit = {
    val slotCol = schema.length
    val in = rows.buffered
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false) // AvroConsumer.java:161
      val written = Seq.newBuilder[(Int, Long)]
      val ps = conn.prepareStatement(insertSql(schema))
      try {
        while (in.hasNext) {
          val slot = in.head.getInt(slotCol)
          val fresh = ledgerSlots(conn, batchId, slot) match {
            case Some(recorded) if recorded != numSlots =>
              // slot layout changed between original write and replay —
              // skipping would silently drop/duplicate rows; refuse loudly
              throw new IllegalStateException(
                s"ledger for ($queryId, batch $batchId) was written with " +
                  s"numSlots=$recorded but this sink uses numSlots=$numSlots; " +
                  "replay with the original slot count")
            case Some(_) => false // already committed: replay skips the slot
            case None => true
          }
          var n = 0L
          while (in.hasNext && in.head.getInt(slotCol) == slot) {
            val row = in.next()
            if (fresh) {
              var i = 0
              while (i < schema.length) {
                bind(ps, i + 1, row.get(i), schema(i).dataType); i += 1
              }
              ps.addBatch(); n += 1
              if (n % 1000 == 0) ps.executeBatch()
            }
          }
          if (fresh) { ps.executeBatch(); written += slot -> n }
        }
      } finally ps.close()
      val lp = conn.prepareStatement(
        s"""INSERT INTO ${q(ledgerTable)} (query_id, batch_id, partition_id, row_count, n_slots) VALUES (?,?,?,?,?)""")
      try written.result().foreach { case (slot, n) =>
        lp.setString(1, queryId); lp.setLong(2, batchId); lp.setInt(3, slot)
        lp.setLong(4, n); lp.setInt(5, numSlots)
        lp.executeUpdate()
      } finally lp.close()
      conn.commit() // AvroConsumer.java:174
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: Throwable => () } // :184
        throw e
    } finally conn.close()
  }

  /** Refuse a replay whose slot count differs from the ledger's BEFORE any
    * task runs: under a changed numSlots, slot ids absent from the ledger
    * would commit their (re-sliced, overlapping) rows and the job would only
    * fail afterwards on the ledgered ids — leaked duplicates. The
    * per-slot check in the tasks alone can't prevent that; this
    * driver-side gate can. */
  private def requireConsistentSlots(batchId: Long): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      // NULL n_slots counts as a mismatch, not a pass: a pre-migration
      // ledger row means the batch's original slot layout is unknowable, so
      // letting the job start would commit overlapping rows on the
      // un-ledgered slot ids before any per-slot check could fire — the
      // exact partial-commit duplicate leak this gate exists to prevent.
      val ps = conn.prepareStatement(
        s"""SELECT COUNT(*) FROM ${q(ledgerTable)}
           | WHERE query_id=? AND batch_id=? AND (n_slots IS NULL OR n_slots <> ?)""".stripMargin)
      try {
        ps.setString(1, queryId); ps.setLong(2, batchId); ps.setInt(3, numSlots)
        val rs = ps.executeQuery()
        try {
          rs.next()
          if (rs.getLong(1) > 0L)
            throw new IllegalStateException(
              s"ledger for ($queryId, batch $batchId) has rows written with a " +
                s"different or pre-migration (NULL) slot count; this sink uses " +
                s"numSlots=$numSlots — replay with the original slot count")
        } finally rs.close()
      } finally ps.close()
    } finally conn.close()
  }

  /** Batch entry point; also the foreachBatch hook for streaming:
    * `stream.writeStream.foreachBatch(sink.writeBatch _)`.
    *
    * The repartition makes slot membership content-determined: Murmur3 of
    * the whole row, modulo a fixed numSlots (explicit numPartitions — AQE
    * never coalesces a user-specified count). Replayed rows land in the
    * same slot regardless of how the upstream plan partitioned them.
    * `__slot` spells out the partition id that repartition assigns, and
    * the coalesce to the cluster's task slots hands each task whole
    * shuffle partitions, so a task commits its slots in one transaction
    * while the ledger still records one row per non-empty (batch, slot). */
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    requireConsistentSlots(batchId)
    val schema = df.schema
    val rowHash = hash(df.columns.map(col): _*)
    val tasks = math.min(numSlots, df.sparkSession.sparkContext.defaultParallelism)
    df.repartition(numSlots, rowHash)
      .withColumn("__slot", pmod(hash(rowHash), lit(numSlots)))
      .coalesce(tasks)
      .foreachPartition { (rows: Iterator[Row]) =>
        // an empty task opens no connection, and a slot with no rows gets
        // no ledger row — an empty slot re-derives as empty on replay
        if (rows.hasNext) writeSlots(rows, schema, batchId)
      }
  }

  // ---- verification helpers (driver-side, small results) ----

  def count(table: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"""SELECT COUNT(*) FROM ${q(table)}""")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }
  def dataCount(): Long = count(dataTable)
  def ledgerCount(): Long = count(ledgerTable)
}
