package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.{Connection, DriverManager, ResultSet}

/** Chunk-parallel JDBC reads — the reference's parallel scan tier
  * (`migrate.go:44-147`) on Spark's JDBC source.
  *
  * Plan: a MIN/MAX planning query on the chunk key (reference
  * `migrate.go:352-410`), [[ChunkPlanner]] slices the range, and each
  * chunk becomes one element of the `predicates` array →
  * one JDBC partition → one Spark task with its own connection (the
  * reference's connection-per-worker shape, `migrate.go:262-269`).
  * Filters/projections on the returned DataFrame push down into the
  * remote SQL via Catalyst's JDBC pushdown.
  *
  * `maxWorkers` caps partition count per dialect (SQLite → 1).
  */
object JdbcSource {

  final case class ReadSpec(
      url: String,
      table: String,
      keyColumn: Option[String],
      props: Map[String, String] = Map.empty,
      /** S5: full scan SELECT with per-column expression rewrite
        * ([[SourceDialect.scanSql]] expression form). When set, the
        * JDBC relation becomes this derived table instead of the bare
        * table — Catalyst's filter pushdown still wraps it (chunk
        * predicates land in the outer WHERE; rewritten columns alias
        * back to their source names, so key predicates resolve), and
        * the expensive conversions (ST_AsText, .ToString(), …) run
        * inside the source engine, once, per chunk-parallel task.
        */
      scanQuery: Option[String] = None)

  /** The MIN/MAX planning SQL (runs through [[queryRow]]). */
  def planningSql(dialect: SourceDialect, table: String, key: String): String =
    s"SELECT MIN(${dialect.quote(key)}) AS lo, " +
      s"MAX(${dialect.quote(key)}) AS hi FROM ${dialect.quote(table)}"

  /** Run a one-row query (MIN/MAX planning, COUNT(*)) on the caller's
    * connection and read that row — one round trip, no Spark job. The
    * caller owns the connection, so `single_tx` counts stay inside its
    * snapshot transaction.
    */
  def queryRow[A](conn: Connection, sql: String)(read: ResultSet => A): A = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try {
        if (!rs.next())
          throw new IllegalStateException(s"no row returned by: $sql")
        read(rs)
      } finally rs.close()
    } finally st.close()
  }

  /** Row count of an already-quoted relation. */
  def count(conn: Connection, relation: String): Long =
    queryRow(conn, s"SELECT COUNT(*) FROM $relation")(_.getLong(1))

  /** Open `url` for the duration of `f`. */
  def withConnection[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Build the per-partition predicate array from planned bounds.
    * Empty table (no bounds) → single unpartitioned read.
    */
  def partitionPredicates(
      dialect: SourceDialect,
      key: String,
      bounds: Option[(Long, Long)],
      chunkSize: Long,
      requestedWorkers: Int): Array[String] = {
    val workers = dialect.maxWorkers(requestedWorkers)
    bounds match {
      case None => Array.empty
      case Some((lo, hi)) =>
        val preds = ChunkPlanner.jdbcPredicates(lo, hi,
          dialect.quote(key), chunkSize)
        if (workers == 1) Array.empty // sequential dialects read unchunked
        else preds
    }
  }

  /** Partitioned read. `bounds` come from a prior planning query (kept
    * separate so tests can exercise the wiring without a live database).
    */
  def read(
      spark: SparkSession,
      dialect: SourceDialect,
      spec: ReadSpec,
      bounds: Option[(Long, Long)],
      chunkSize: Long = ChunkPlanner.DefaultChunkSize,
      workers: Int = 8): DataFrame =
    readWithPredicates(spark, dialect, spec,
      spec.keyColumn
        .map(k => partitionPredicates(dialect, k, bounds, chunkSize, workers))
        .getOrElse(Array.empty))

  /** Read with an EXPLICIT predicate list — partition i of the result is
    * exactly `preds(i)`. The resume path uses this to read only the
    * chunks a prior run didn't complete while preserving the plan-order
    * chunk ids. Empty `preds` → single unpartitioned read.
    */
  def readWithPredicates(
      spark: SparkSession,
      dialect: SourceDialect,
      spec: ReadSpec,
      preds: Array[String]): DataFrame = {
    val props = new java.util.Properties()
    spec.props.foreach { case (k, v) => props.setProperty(k, v) }
    // dialect-forced connection options (UTC, read-only, …) — the JDBC
    // analog of the reference's DSN normalization
    val url = dialect.normalizeUrl(spec.url)
    // derived-table relation for rewritten scans; bare table otherwise
    // (keeps the JDBC source's direct column pruning on the table)
    val rel = spec.scanQuery
      .map(q => s"($q) graft_scan")
      .getOrElse(dialect.quote(spec.table))
    if (preds.isEmpty)
      spark.read.jdbc(url, rel, props)
    else
      spark.read.jdbc(url, rel, preds, props)
  }
}
