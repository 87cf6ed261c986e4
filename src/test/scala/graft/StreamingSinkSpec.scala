package graft

import graft.sources.CopySink
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.DriverManager

/** Streaming → JDBC sink integration: foreachBatch reuses the batch
  * CopySink (the SURVEY §2.9 claim), draining the events file stream
  * into embedded Derby and checking target row counts — the streaming
  * analog of the reference's COPY load.
  */
class StreamingSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val url = "jdbc:derby:memory:graftstream;create=true"

  test("foreachBatch drains the event stream through CopySink") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_sink\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
    } finally conn.close()

    val events = EventsStream.readEvents(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")
    val q = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val writer = CopySink.chooseWriter(url, null, "events_sink",
          batch.columns.toSeq, 200)
        batch.foreachPartition {
          (rows: Iterator[org.apache.spark.sql.Row]) =>
            CopySink.writePartition(rows, () => DriverManager.getConnection(
              "jdbc:derby:memory:graftstream"), writer)
            ()
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val check = DriverManager.getConnection(
      "jdbc:derby:memory:graftstream")
    try {
      val rs = check.createStatement().executeQuery(
        "SELECT COUNT(*), SUM(\"event_id\") FROM \"events_sink\"")
      rs.next()
      assert(rs.getLong(1) == 1000L)
      assert(rs.getLong(2) == 999L * 1000 / 2)
    } finally check.close()
  }

  private def count(sql: String): Long = {
    val c = DriverManager.getConnection("jdbc:derby:memory:graftstream")
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("exactly-once sink: a redelivered micro-batch (foreachBatch " +
      "called again with the same batchId after sink commit) writes " +
      "no duplicate rows — the batchId ledger skips it") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_eo\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
      conn.createStatement().execute(CopySink.ledgerDdl("sink_ledger"))
    } finally conn.close()

    val connect = () =>
      DriverManager.getConnection("jdbc:derby:memory:graftstream")
    def body(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CopySink.writeExactlyOnce(batch, id, sinkId = "events_eo_sink",
        schema = null, table = "events_eo", ledgerTable = "sink_ledger",
        connect = connect, batchSize = 200)

    // drive the real stream once; capture each micro-batch so we can
    // REDELIVER it exactly as Structured Streaming does on recovery
    // (same batchId, same content)
    val delivered = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, org.apache.spark.sql.DataFrame]()
    val events = EventsStream.readEvents(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")
    val q = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        delivered.put(id, batch.persist())
        body(batch, id)
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val afterFirst = count("SELECT COUNT(*) FROM \"events_eo\"")
    assert(afterFirst == 1000L, s"first delivery wrote $afterFirst")
    val ledgerRows = count("SELECT COUNT(*) FROM \"sink_ledger\"")
    assert(ledgerRows > 0, "no ledger rows recorded with the write")

    // redeliver EVERY batch (sink committed, checkpoint lost — the
    // at-least-once failure mode): counts must not move
    delivered.forEach((id, batch) => body(batch, id))
    assert(count("SELECT COUNT(*) FROM \"events_eo\"") == 1000L,
      "redelivered batch duplicated rows despite the ledger")
    assert(count("SELECT COUNT(*) FROM \"sink_ledger\"") == ledgerRows,
      "redelivery grew the ledger")

    // a partition-level retry AFTER a partial commit must complete
    // only the unfinished partitions: simulate by deleting one
    // partition's ledger row + its rows, then redelivering — the
    // write resumes exactly that partition
    val probe = delivered.values().iterator().next()
    val conn2 = DriverManager.getConnection(url)
    try {
      val rs = conn2.createStatement().executeQuery(
        "SELECT \"batch_id\", \"part_id\" FROM \"sink_ledger\" " +
          "FETCH FIRST 1 ROWS ONLY")
      rs.next()
      val (bid, pid) = (rs.getLong(1), rs.getInt(2))
      conn2.createStatement().execute(
        s"""DELETE FROM "sink_ledger" WHERE "batch_id" = $bid """ +
          s"""AND "part_id" = $pid""")
      delivered.forEach { (id, batch) =>
        if (id == bid) {
          // drop that partition's rows too (as if its txn rolled back)
          import org.apache.spark.sql.functions.spark_partition_id
          val ids = batch.withColumn("p", spark_partition_id())
            .filter(s"p = $pid").select("event_id")
            .collect().map(_.getLong(0))
          if (ids.nonEmpty)
            conn2.createStatement().execute(
              s"""DELETE FROM "events_eo" WHERE "event_id" IN """ +
                s"(${ids.mkString(",")})")
        }
      }
    } finally conn2.close()
    delivered.forEach((id, batch) => body(batch, id))
    assert(count("SELECT COUNT(*) FROM \"events_eo\"") == 1000L,
      "partition-level resume did not restore exactly the missing rows")
    assert(count("SELECT COUNT(DISTINCT \"event_id\") FROM " +
      "\"events_eo\"") == 1000L,
      "partition-level resume duplicated rows")
    delivered.forEach((_, b) => { b.unpersist(); () })
  }

  test("exactly-once sink survives a mid-write COMMIT crash: the " +
      "failed partition's transaction rolls back atomically (rows AND " +
      "ledger row), redelivery completes it without duplicates") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_cr\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
      conn.createStatement().execute(CopySink.ledgerDdl("crash_ledger"))
    } finally conn.close()

    // connection proxy whose FIRST commit() across the whole run
    // throws — a sink-side crash at the worst moment (data batched,
    // transaction about to land). Static flag is fine: local-mode
    // executors share this JVM.
    StreamingSinkSpec.CrashOnce.set(false)
    val crashingConnect: () => java.sql.Connection = () => {
      val real = DriverManager.getConnection(
        "jdbc:derby:memory:graftstream")
      java.lang.reflect.Proxy.newProxyInstance(
        classOf[java.sql.Connection].getClassLoader,
        Array[Class[_]](classOf[java.sql.Connection]),
        (_, m, args) => {
          if (m.getName == "commit" &&
              StreamingSinkSpec.CrashOnce.compareAndSet(false, true))
            throw new java.sql.SQLException("injected commit crash")
          try m.invoke(real,
            (if (args == null) Array.empty[AnyRef] else args): _*)
          catch {
            case e: java.lang.reflect.InvocationTargetException =>
              throw e.getCause
          }
        }).asInstanceOf[java.sql.Connection]
    }

    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "value").repartition(4)
      .persist()
    def deliver(connect: () => java.sql.Connection): Unit =
      CopySink.writeExactlyOnce(batch, batchId = 7L,
        sinkId = "crash_sink", schema = null, table = "events_cr",
        ledgerTable = "crash_ledger", connect = connect, batchSize = 100)

    // first delivery: one partition's commit crashes, job fails
    val failed = intercept[Exception] { deliver(crashingConnect) }
    assert(failed.getMessage != null)
    val rowsAfterCrash = count("SELECT COUNT(*) FROM \"events_cr\"")
    val ledgerAfterCrash = count("SELECT COUNT(*) FROM \"crash_ledger\"")
    assert(rowsAfterCrash < 1000L,
      "the crashed partition's rows should not all be present")
    // atomicity: ledger rows == committed partitions, and the
    // committed partitions' rows are all-or-nothing (each partition of
    // the 4-way repartition carries its full row set or none)
    assert(ledgerAfterCrash < 4L,
      "crashed partition still recorded a ledger row")

    // redelivery with a healthy connection: completes ONLY the
    // missing partition(s), no duplicates anywhere
    deliver(() => DriverManager.getConnection(
      "jdbc:derby:memory:graftstream"))
    assert(count("SELECT COUNT(*) FROM \"events_cr\"") == 1000L,
      "crash resume did not complete the batch")
    assert(count("SELECT COUNT(DISTINCT \"event_id\") FROM " +
      "\"events_cr\"") == 1000L, "crash resume duplicated rows")
    assert(count("SELECT COUNT(*) FROM \"crash_ledger\"") == 4L,
      "ledger does not record all four partitions after resume")
    batch.unpersist()
    ()
  }

  test("exactly-once sink refuses a replay whose partition layout " +
      "changed: the per-partition skip would silently lose/duplicate " +
      "rows, so a differing n_parts fails loudly before writing") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_lc\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
      conn.createStatement().execute(CopySink.ledgerDdl("layout_ledger"))
    } finally conn.close()
    val connect: () => java.sql.Connection =
      () => DriverManager.getConnection("jdbc:derby:memory:graftstream")
    def deliver(parts: Int): Unit =
      CopySink.writeExactlyOnce(
        Tables.load(spark, "/root/testdata/sf0.001", "events")
          .select("event_id", "user_id", "value").repartition(parts),
        batchId = 9L, sinkId = "layout_sink", schema = null,
        table = "events_lc", ledgerTable = "layout_ledger",
        connect = connect, batchSize = 100)
    deliver(4)
    assert(count("SELECT COUNT(*) FROM \"events_lc\"") == 1000L)
    // same layout replays fine (full skip, no duplicates)
    deliver(4)
    assert(count("SELECT COUNT(*) FROM \"events_lc\"") == 1000L)
    // a replay under a CHANGED layout is refused before any write
    val e = intercept[IllegalStateException] { deliver(2) }
    assert(e.getMessage.contains("partitioning config changed"))
    assert(count("SELECT COUNT(*) FROM \"events_lc\"") == 1000L,
      "refused replay must write nothing")
  }

  test("exactly-once sink refuses an equal-n_parts replay whose " +
      "row-to-partition ASSIGNMENT shifted: a skipping partition " +
      "verifies its replayed row count against the ledger's n_rows") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_ra\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
      conn.createStatement().execute(CopySink.ledgerDdl("assign_ledger"))
    } finally conn.close()
    val connect: () => java.sql.Connection =
      () => DriverManager.getConnection("jdbc:derby:memory:graftstream")
    val base = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "value")
    def deliver(df: org.apache.spark.sql.DataFrame): Unit =
      CopySink.writeExactlyOnce(df, batchId = 11L,
        sinkId = "assign_sink", schema = null, table = "events_ra",
        ledgerTable = "assign_ledger", connect = connect,
        batchSize = 100)
    deliver(base.repartition(4)) // round-robin: ~250 rows/partition
    assert(count("SELECT COUNT(*) FROM \"events_ra\"") == 1000L)
    // same n_parts (the driver-side count probe passes) but a hash
    // partitioning — per-partition row counts differ from the
    // round-robin 250s, so the per-partition n_rows check must refuse
    // the skip
    val e = intercept[org.apache.spark.SparkException] {
      deliver(base.repartition(4, col("user_id")))
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
    assert(rootMsg(e).contains("row-to-partition assignment"))
    assert(count("SELECT COUNT(*) FROM \"events_ra\"") == 1000L,
      "refused reassignment replay must not change the table")
  }

  test("exactly-once sink detects a pre-n_rows ledger and fails with " +
      "the migration statement; after migration the write proceeds " +
      "and pre-upgrade rows (n_rows = -1 sentinel) skip count checks") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_mig\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
      // the r11 ledger shape: no n_rows column
      conn.createStatement().execute(
        "CREATE TABLE \"old_ledger\" (\"sink_id\" VARCHAR(128) NOT " +
          "NULL, \"batch_id\" BIGINT NOT NULL, \"part_id\" INTEGER " +
          "NOT NULL, \"n_parts\" INTEGER NOT NULL, PRIMARY KEY " +
          "(\"sink_id\", \"batch_id\", \"part_id\"))")
    } finally conn.close()
    val connect: () => java.sql.Connection =
      () => DriverManager.getConnection("jdbc:derby:memory:graftstream")
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "value").repartition(4)
    def deliver(): Unit =
      CopySink.writeExactlyOnce(batch, batchId = 3L,
        sinkId = "mig_sink", schema = null, table = "events_mig",
        ledgerTable = "old_ledger", connect = connect, batchSize = 100)
    val e = intercept[IllegalStateException] { deliver() }
    assert(e.getMessage.contains("n_rows"))
    assert(e.getMessage.contains("ALTER TABLE"))
    assert(count("SELECT COUNT(*) FROM \"events_mig\"") == 0L,
      "outdated-ledger delivery must write nothing")
    // apply the migration the error message prescribes; the gate then
    // finds the NEXT missing column (content_ck, the r13 shape) and
    // prescribes its own migration — after both, the write works
    val mc = DriverManager.getConnection(url)
    try mc.createStatement().execute(
      CopySink.ledgerMigrationDdl("old_ledger"))
    finally mc.close()
    val e2 = intercept[IllegalStateException] { deliver() }
    assert(e2.getMessage.contains("content_ck"))
    assert(e2.getMessage.contains("ALTER TABLE"))
    val mc2 = DriverManager.getConnection(url)
    try mc2.createStatement().execute(
      CopySink.ledgerChecksumMigrationDdl("old_ledger"))
    finally mc2.close()
    deliver()
    assert(count("SELECT COUNT(*) FROM \"events_mig\"") == 1000L)
    // a pre-upgrade committed partition carries the -1 sentinel: mark
    // one row as legacy and replay — the count check is skipped, no
    // rejection, no duplicates
    val sc = DriverManager.getConnection(url)
    try sc.createStatement().execute(
      "UPDATE \"old_ledger\" SET \"n_rows\" = -1, " +
        "\"content_ck\" = NULL WHERE \"part_id\" = 0")
    finally sc.close()
    deliver()
    assert(count("SELECT COUNT(*) FROM \"events_mig\"") == 1000L,
      "sentinel replay must not duplicate rows")
  }

  test("rowCk rendering is injective: delimiter bytes inside string " +
      "data and NULL-vs-sentinel-string cannot alias rows") {
    import org.apache.spark.sql.Row
    // field-boundary realignment: same concatenation, different split
    assert(CopySink.rowCk(Row("ab", "c")) !=
      CopySink.rowCk(Row("a", "bc")))
    assert(CopySink.rowCk(Row("ab", "")) != CopySink.rowCk(Row("a", "b")))
    // SQL NULL vs every string value, including the old in-band markers
    assert(CopySink.rowCk(Row(null, "x")) != CopySink.rowCk(Row(" ", "x")))
    assert(CopySink.rowCk(Row(null)) != CopySink.rowCk(Row("")))
    assert(CopySink.rowCk(Row(null)) != CopySink.rowCk(Row("N;")))
    // a string that LOOKS like a length-prefixed rendering of two fields
    assert(CopySink.rowCk(Row("1:a;1:b")) != CopySink.rowCk(Row("a", "b")))
    // equal rows still hash equal
    assert(CopySink.rowCk(Row("ab", "c")) ==
      CopySink.rowCk(Row("ab", "c")))
  }

  test("rowCk temporal hashing is timezone-invariant: a replay on a " +
      "JVM with a different default TZ sees the same checksum") {
    import org.apache.spark.sql.Row
    import java.time.{Instant, LocalDate, ZoneId}
    // Pure: rowCk(row, zone) takes the interpreting zone as a
    // parameter, so no JVM-global TimeZone.setDefault (which would
    // race concurrently-running suites that read temporal values).
    val ny = ZoneId.of("America/New_York")
    val tokyo = ZoneId.of("Asia/Tokyo")
    val instant = Instant.parse("2026-03-08T07:30:00.123456789Z")
    val logical = LocalDate.of(2026, 3, 8)
    // Each JVM materializes the SAME logical values its own way: the
    // timestamp from the same epoch; the DATE as the java.sql.Date
    // whose local components (in that JVM's zone) equal the logical
    // date — i.e. different millis per zone (how Spark surfaces
    // DateType). The checksums must still agree.
    def surface(zone: ZoneId): Row = {
      val t = new java.sql.Timestamp(instant.toEpochMilli)
      t.setNanos(instant.getNano)
      val dMillis = logical.atStartOfDay(zone).toInstant.toEpochMilli
      Row(t, new java.sql.Date(dMillis))
    }
    assert(CopySink.rowCk(surface(ny), ny) ==
      CopySink.rowCk(surface(tokyo), tokyo),
      "temporal checksum must not depend on the JVM default timezone")
    // the java8API=true surface forms (Instant/LocalDate) hash the
    // SAME as the java.sql forms of the same logical values
    assert(CopySink.rowCk(Row(instant, logical), ny) ==
      CopySink.rowCk(surface(ny), ny),
      "java.time and java.sql surfaces of one logical value must " +
        "share a checksum (spark.sql.datetime.java8API.enabled flip)")
    // distinct instants must not collide across the two spellings
    val other = Instant.parse("2026-03-08T07:30:01.123456789Z")
    assert(CopySink.rowCk(Row(instant), ny) !=
      CopySink.rowCk(Row(other), ny))
    // nanos beyond the millisecond still participate (injectivity)
    val t1 = new java.sql.Timestamp(1000L); t1.setNanos(123000001)
    val t2 = new java.sql.Timestamp(1000L); t2.setNanos(123000002)
    assert(CopySink.rowCk(Row(t1)) != CopySink.rowCk(Row(t2)))
  }

  test("data-arm dispatch: a PostgreSQL target URL selects the COPY " +
      "writer with the COPY-protocol SQL; anything else the INSERT arm") {
    val cols = Seq("event_id", "value")
    CopySink.chooseWriter("jdbc:postgresql://db:5432/x", "pub",
        "events_eo", cols, 500) match {
      case CopySink.CopyDataWriter(sql) =>
        assert(sql.startsWith("COPY") && sql.contains("FROM STDIN"),
          s"not the COPY protocol: $sql")
        assert(sql.contains("\"pub\".\"events_eo\""))
      case other => fail(s"postgres target chose $other")
    }
    CopySink.chooseWriter(url, null, "events_eo", cols, 500) match {
      case CopySink.InsertDataWriter(sql, 500) =>
        assert(sql.startsWith("INSERT INTO"))
      case other => fail(s"derby target chose $other")
    }
  }

  test("exactly-once through the pluggable data arm: the writer runs " +
      "inside the ledger transaction and is bypassed on redelivery") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE \"events_seam\" (\"event_id\" BIGINT, " +
          "\"user_id\" BIGINT, \"value\" DOUBLE)")
      conn.createStatement().execute(CopySink.ledgerDdl("seam_ledger"))
    } finally conn.close()
    val connect = () =>
      DriverManager.getConnection("jdbc:derby:memory:graftstream")
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "value")
      .repartition(4).persist()
    StreamingSinkSpec.SeamCalls.set(0)
    StreamingSinkSpec.SeamAutoCommitSeen.set(false)
    def deliver(): Unit = CopySink.writeExactlyOnce(batch, batchId = 21L,
      sinkId = "seam_sink", schema = null, table = "events_seam",
      ledgerTable = "seam_ledger", connect = connect,
      dataWriter = Some(StreamingSinkSpec.ProbeWriter(
        CopySink.InsertDataWriter(
          CopySink.insertSql(null, "events_seam",
            Seq("event_id", "user_id", "value")), 200))))
    deliver()
    assert(count("SELECT COUNT(*) FROM \"events_seam\"") == 1000L)
    assert(StreamingSinkSpec.SeamCalls.get() == 4,
      s"writer ran ${StreamingSinkSpec.SeamCalls.get()} times for 4 " +
        "partitions")
    assert(!StreamingSinkSpec.SeamAutoCommitSeen.get(),
      "data arm saw autocommit=true — data rows would commit outside " +
        "the ledger transaction")
    // redelivery: the ledger skip path must never reach the data arm
    deliver()
    assert(count("SELECT COUNT(*) FROM \"events_seam\"") == 1000L,
      "redelivery duplicated rows through the pluggable arm")
    assert(StreamingSinkSpec.SeamCalls.get() == 4,
      "redelivery invoked the data writer despite committed ledger rows")
    batch.unpersist()
  }
}

object StreamingSinkSpec {
  /** Shared crash trigger for the commit-crash test (local-mode JVM). */
  val CrashOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  val SeamCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val SeamAutoCommitSeen = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Instrumented data arm: records each invocation and whether the
    * connection was (wrongly) in autocommit, then delegates.
    */
  final case class ProbeWriter(inner: CopySink.PartitionDataWriter)
      extends CopySink.PartitionDataWriter {
    override def write(conn: java.sql.Connection,
        rows: Iterator[org.apache.spark.sql.Row]): Long = {
      SeamCalls.incrementAndGet()
      if (conn.getAutoCommit) SeamAutoCommitSeen.set(true)
      inner.write(conn, rows)
    }
  }
}
