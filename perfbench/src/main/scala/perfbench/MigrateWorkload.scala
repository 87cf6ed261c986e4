package perfbench

import java.sql.{Connection, DriverManager, SQLException}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{MigrationPipeline, MigrationReport, SparkTableLoader, SqlExecutor, TableLoader}
import graft.checkpoint.CheckpointManager
import graft.config.JobConfig
import graft.sources.{ChunkPlanner, GenericJdbcDialect, Introspection, SchemaMapping, TableMeta}

/** The migration workload: an in-memory Derby source built from the
  * generated parquet, migrated into a fresh in-memory Derby target per
  * operation through `MigrationPipeline.migrate` with the program's own
  * `SparkTableLoader` and `JdbcExecutor` behind timing wrappers.
  */
object MigrateWorkload {

  // ---- source schema ------------------------------------------------------

  /** Source table: Derby DDL, the parquet columns that fill it in order,
    * and its primary-key column. LINEITEM's key is a surrogate `L_ID`
    * numbered in generated (seeded) row order, because
    * (l_orderkey, l_linenumber) is not unique.
    */
  final case class SrcTable(name: String, ddl: String, cols: Seq[String],
      key: String, surrogate: Boolean = false)

  val SourceTables: Seq[SrcTable] = Seq(
    SrcTable("REGION", "R_REGIONKEY INT NOT NULL, R_NAME VARCHAR(25) NOT NULL",
      Seq("r_regionkey", "r_name"), "R_REGIONKEY"),
    SrcTable("NATION", "N_NATIONKEY INT NOT NULL, N_NAME VARCHAR(25) NOT NULL, " +
      "N_REGIONKEY INT NOT NULL",
      Seq("n_nationkey", "n_name", "n_regionkey"), "N_NATIONKEY"),
    SrcTable("CUSTOMER", "C_CUSTKEY BIGINT NOT NULL, C_NAME VARCHAR(25) NOT NULL, " +
      "C_NATIONKEY INT NOT NULL, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(10)",
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "C_CUSTKEY"),
    SrcTable("SUPPLIER", "S_SUPPKEY BIGINT NOT NULL, S_NAME VARCHAR(25) NOT NULL, " +
      "S_NATIONKEY INT NOT NULL, S_ACCTBAL DOUBLE",
      Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "S_SUPPKEY"),
    SrcTable("PART", "P_PARTKEY BIGINT NOT NULL, P_NAME VARCHAR(55), " +
      "P_BRAND VARCHAR(10), P_TYPE VARCHAR(25), P_SIZE INT, P_RETAILPRICE DOUBLE",
      Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "P_PARTKEY"),
    SrcTable("ORDERS", "O_ORDERKEY BIGINT NOT NULL, O_CUSTKEY BIGINT NOT NULL, " +
      "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
      "O_ORDERPRIORITY VARCHAR(15)",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "O_ORDERKEY"),
    SrcTable("LINEITEM", "L_ID BIGINT NOT NULL, L_ORDERKEY BIGINT NOT NULL, " +
      "L_PARTKEY BIGINT NOT NULL, L_SUPPKEY BIGINT NOT NULL, L_LINENUMBER INT, " +
      "L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, " +
      "L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1), " +
      "L_SHIPDATE TIMESTAMP",
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"), "L_ID", surrogate = true),
    SrcTable("EVENTS", "EVENT_ID BIGINT NOT NULL, TS TIMESTAMP, " +
      "USER_ID BIGINT NOT NULL, EVENT_TYPE VARCHAR(16), EVENT_VALUE DOUBLE, " +
      "PROPS VARCHAR(64)",
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "EVENT_ID"),
    SrcTable("DOCUMENTS", "DOC_ID BIGINT NOT NULL, DOC_TEXT VARCHAR(4000), " +
      "LANG VARCHAR(8), SOURCE VARCHAR(16), N_CHARS BIGINT",
      Seq("doc_id", "text", "lang", "source", "n_chars"), "DOC_ID"))

  /** Constraints added after the fill (child, columns, parent, columns). */
  val ForeignKeys: Seq[(String, String, String, String)] = Seq(
    ("NATION", "N_REGIONKEY", "REGION", "R_REGIONKEY"),
    ("CUSTOMER", "C_NATIONKEY", "NATION", "N_NATIONKEY"),
    ("SUPPLIER", "S_NATIONKEY", "NATION", "N_NATIONKEY"),
    ("ORDERS", "O_CUSTKEY", "CUSTOMER", "C_CUSTKEY"),
    ("LINEITEM", "L_ORDERKEY", "ORDERS", "O_ORDERKEY"),
    ("LINEITEM", "L_PARTKEY", "PART", "P_PARTKEY"),
    ("LINEITEM", "L_SUPPKEY", "SUPPLIER", "S_SUPPKEY"),
    ("EVENTS", "USER_ID", "CUSTOMER", "C_CUSTKEY"))
  val Indexes: Seq[(String, String, String)] = Seq(
    ("LINEITEM_SHIPDATE", "LINEITEM", "L_SHIPDATE"),
    ("EVENTS_USER", "EVENTS", "USER_ID"))

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  def scalar(c: Connection, sql: String): Long = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally st.close()
  }

  /** Drop an in-memory Derby database; Derby signals success with 08006. */
  def dropDb(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  /** Build the source database from the generated parquet: create the
    * tables, fill them with batched prepared INSERTs over four connections,
    * then attach foreign keys and indexes. Rows keep their generated order
    * (parquet file, then row in file), which numbers LINEITEM's surrogate
    * key. Returns rows per table.
    */
  def buildSource(env: Env, dir: String, db: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    val url = s"jdbc:derby:memory:$db;create=true"
    val c = DriverManager.getConnection(url)
    try SourceTables.foreach(t => exec(c,
      s"CREATE TABLE ${t.name} (${t.ddl}, PRIMARY KEY (${t.key}))"))
    finally c.close()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def submit[T](body: => T) =
      pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body })
    try {
      // read all tables at once (one Spark job each), then fill in order
      val reads = SourceTables.map(t => t -> submit(
        env.spark.read.parquet(s"$dir/${t.name.toLowerCase}.parquet")
          .select((t.cols.map(col) ++ Seq(col("_metadata.file_path"),
            col("_metadata.row_index"))): _*)
          .collect()
          .sortBy(r => (r.getString(t.cols.size), r.getLong(t.cols.size + 1)))))
      val rows: Map[String, Long] = reads.map { case (t, read) =>
        val all = read.get()
        val step = (all.length + 3) / 4
        (0 until 4).map(k => k * step).filter(_ < all.length).map(off =>
          submit(insertRows(url, t,
            all.slice(off, math.min(off + step, all.length)), off)))
          .foreach(_.get())
        t.name -> all.length.toLong
      }.toMap
      val c2 = DriverManager.getConnection(url)
      try {
        ForeignKeys.foreach { case (child, col, parent, pcol) =>
          exec(c2, s"ALTER TABLE $child ADD CONSTRAINT FK_${child}_$col " +
            s"FOREIGN KEY ($col) REFERENCES $parent ($pcol)")
        }
        Indexes.foreach { case (n, t, col) =>
          exec(c2, s"CREATE INDEX $n ON $t ($col)")
        }
      } finally c2.close()
      rows
    } finally pool.shutdown()
  }

  private def insertRows(url: String, t: SrcTable,
      rows: Array[org.apache.spark.sql.Row], offset: Long): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val n = t.cols.size + (if (t.surrogate) 1 else 0)
      val ps = c.prepareStatement(
        s"INSERT INTO ${t.name} VALUES (${Seq.fill(n)("?").mkString(", ")})")
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        var p = 1
        if (t.surrogate) { ps.setLong(1, offset + i + 1); p = 2 }
        var j = 0
        while (j < t.cols.size) {
          ps.setObject(p + j, r.get(j) match {
            case ts: java.time.LocalDateTime => java.sql.Timestamp.valueOf(ts)
            case v => v
          })
          j += 1
        }
        ps.addBatch()
        i += 1
        if (i % 1000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
      ps.close()
    } finally c.close()
  }

  // ---- seams around the program -------------------------------------------

  /** Infers the pipeline's phase from the seam calls it makes and records
    * each phase as a span: schema (from the start of `migrate` to the first
    * load), load, validate (count and digest calls), post (statements
    * after the data phase).
    */
  final class Phases(tracer: Tracer, migrateSpan: Int) {
    private var cur: Option[(String, Int, Long)] = None
    val walls = mutable.Map[String, Double]().withDefaultValue(0.0)
    def enter(phase: String): Int = synchronized {
      cur match {
        case Some((p, id, _)) if p == phase => id
        case _ =>
          close()
          val id = tracer.reserve()
          cur = Some((phase, id, tracer.now))
          id
      }
    }
    def current: String = synchronized(cur.map(_._1).getOrElse(""))
    def close(): Unit = synchronized {
      cur.foreach { case (p, id, s) =>
        val e = tracer.now
        walls(p) += (e - s) / 1e9
        tracer.recordAs(id, p, migrateSpan, s, e)
      }
      cur = None
    }
  }

  /** Statement class, by what the post phase does with it. */
  def classify(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.startsWith("CREATE TABLE") || s.startsWith("CREATE UNLOGGED")) "create"
    else if (s.contains("ADD PRIMARY KEY")) "pk"
    else if (s.startsWith("CREATE INDEX") || s.startsWith("CREATE UNIQUE INDEX"))
      "index"
    else if (s.contains("NOT EXISTS (SELECT 1 FROM")) "orphan"
    else if (s.contains("FOREIGN KEY")) "fk"
    else if (s.startsWith("SELECT SETVAL")) "sequence"
    else "other"
  }

  /** PostgreSQL-only statements the Derby target cannot run. They are
    * recorded and counted, not executed.
    */
  def pgOnly(sql: String): Boolean = {
    val s = sql.toUpperCase
    s.contains("PG_GET_SERIAL_SEQUENCE") || s.contains("SETVAL(") ||
      s.contains(" TRIGGER ALL") || s.contains("SET LOGGED") ||
      s.contains("SET UNLOGGED") || s.startsWith("CREATE EXTENSION")
  }

  /** The target executor: the program's `JdbcExecutor` behind a bridge that
    * skips PostgreSQL-only statements and times each statement by class.
    * `afterCreate` lets the resume workload plant its fault right after a
    * table is created.
    */
  final class BridgeExecutor(url: String, tracer: Tracer, phases: Phases,
      afterCreate: String => Option[String]) extends SqlExecutor {
    val inner = new graft.JdbcExecutor(url)
    val bridged = mutable.ArrayBuffer[String]()
    val byClass = mutable.Map[String, (Int, Double)]().withDefaultValue((0, 0.0))

    def execute(sql: String): Unit = {
      val cls = classify(sql)
      val pid = phases.enter(if (cls == "create") "schema" else
        if (phases.current == "" || phases.current == "schema") "schema"
        else "post")
      val t0 = System.nanoTime()
      tracer.span(s"sql.$cls", pid) {
        if (pgOnly(sql)) bridged += sql
        else inner.execute(sql)
      }
      val d = (System.nanoTime() - t0) / 1e9
      val (n, s) = byClass(cls)
      byClass(cls) = (n + 1, s + d)
      if (cls == "create") afterCreate(sql).foreach(inner.execute)
    }

    // index_workers = 1: statements run one by one, each timed
    override def executeAll(sqls: Seq[String], workers: Int): Unit =
      sqls.foreach(execute)

    def close(): Unit = inner.close()
  }

  /** One `load` call: rows written, wall seconds, and its wall-clock window
    * (ms) for attributing Spark tasks to it.
    */
  final case class Load(table: String, rows: Long, seconds: Double,
      fromMs: Long, toMs: Long)

  /** The loader: the program's `SparkTableLoader` with every call timed. */
  final class TimedLoader(inner: SparkTableLoader, env: Env, phases: Phases)
      extends TableLoader {
    val loads = mutable.ArrayBuffer[Load]()
    val validateCalls = mutable.ArrayBuffer[(String, Double)]()

    private def timed[T](phase: String, name: String, table: String)
        (body: => T): (T, Double, Long, Long) = {
      val pid = phases.enter(phase)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = env.tracer.span(name, pid, Map("table" -> table))(body)
      (r, (System.nanoTime() - t0) / 1e9, w0, System.currentTimeMillis())
    }

    def load(t: TableMeta): Long = {
      val (n, d, w0, w1) = timed("load", "load.table", t.name)(inner.load(t))
      synchronized { loads += Load(t.name, n, d, w0, w1) }
      n
    }
    private def v[T](kind: String, t: TableMeta)(body: => T): T = {
      val (r, d, _, _) = timed("validate", s"validate.$kind", t.name)(body)
      synchronized { validateCalls += ((kind, d)) }
      r
    }
    def sourceCount(t: TableMeta): Long = v("count", t)(inner.sourceCount(t))
    def targetCount(t: TableMeta): Long = v("count", t)(inner.targetCount(t))
    override def sourceDigest(t: TableMeta): Option[String] =
      v("digest", t)(inner.sourceDigest(t))
    override def targetDigest(t: TableMeta): Option[String] =
      v("digest", t)(inner.targetDigest(t))
  }


  // ---- one migration --------------------------------------------------------

  /** One `migrate()` call as the harness saw it. */
  final case class RunStats(wall: Double, introspect: Double,
      checkpointLoad: Double,
      loads: Seq[Load],
      validateCalls: Seq[(String, Double)], phaseWalls: Map[String, Double],
      stmts: Map[String, (Int, Double)], bridged: Int,
      report: Option[MigrationReport], error: Option[Throwable],
      metas: Seq[TableMeta], checkpoint: Option[CheckpointManager])

  def introspect(srcUrl: String, cfg: JobConfig)
      : (Seq[graft.SourceTable], Seq[TableMeta]) = {
    val conn = DriverManager.getConnection(srcUrl)
    val (sts, fks) = try Introspection.fromJdbcMetadata(conn, "APP")
      finally conn.close()
    val metas = sts.map(st => SchemaMapping.toTableMeta(GenericJdbcDialect,
      st, fks.getOrElse(st.name, Nil), cfg.typeOptions,
      snake = cfg.snakeCaseIdentifiers, preserveDefaults = cfg.preserveDefaults))
    (sts, metas)
  }

  def checkpointParts(cfg: JobConfig, metas: Seq[TableMeta])
      : (String, Seq[(String, String)]) = {
    val parts = graft.Main.compatParts(cfg, metas)
    (CheckpointManager.fingerprint(parts), parts)
  }

  /** Introspect, open the checkpoint (resume only) and run the pipeline —
    * what the CLI's migrate does — with every seam call timed.
    */
  def migrateOnce(env: Env, cfg: JobConfig,
      checkpointFile: Option[java.nio.file.Path],
      afterCreate: String => Option[String]): RunStats = {
    val tr = env.tracer
    val t0 = System.nanoTime()
    tr.span("migration") {
      val mid = tr.currentParent
      def timed[T](name: String)(body: => T): (T, Double) = {
        val s = System.nanoTime()
        val r = tr.span(name)(body)
        (r, (System.nanoTime() - s) / 1e9)
      }
      val ((sts, metas), introS) = timed("introspect")(introspect(cfg.sourceUrl, cfg))
      val (checkpoint, cpLoad) = checkpointFile match {
        case Some(f) => timed("checkpoint.load") {
          val (fp, parts) = checkpointParts(cfg, metas)
          Some(CheckpointManager.load(f.toString, fp, parts))
        }
        case None => (None, 0.0)
      }
      val phases = new Phases(tr, mid)
      val exec = new BridgeExecutor(cfg.targetUrl, tr, phases, afterCreate)
      val loader = new TimedLoader(
        new SparkTableLoader(env.spark, cfg, sts, checkpoint), env, phases)
      var report: Option[MigrationReport] = None
      var error: Option[Throwable] = None
      try {
        phases.enter("schema")
        report = Some(new MigrationPipeline(cfg, exec, loader, Map.empty,
          checkpoint).migrate(metas))
      } catch { case NonFatal(e) => error = Some(e) }
      finally { phases.close(); exec.close() }
      RunStats((System.nanoTime() - t0) / 1e9, introS, cpLoad,
        loader.loads.toList, loader.validateCalls.toList, phases.walls.toMap,
        exec.byClass.toMap, exec.bridged.size, report, error, metas,
        checkpoint)
    }
  }

  /** The job: `workers = 4`, no UNLOGGED tables, and serial index builds:
    * Derby table-locks DDL, so concurrent `CREATE INDEX` statements on one
    * target table can deadlock each other (SQLState 40001).
    */
  def config(src: String, tgt: String): JobConfig =
    JobConfig(sourceDialect = "jdbc", sourceUrl = src, targetUrl = tgt,
      targetSchema = "tgt", workers = Harness.Cores, indexWorkers = 1,
      chunkSize = ChunkSize, resume = true, unloggedTables = false,
      validation = "checksum")

  /** Target row counts per source table, read directly over JDBC. */
  def targetCounts(tgtUrl: String, tables: Seq[String]): Map[String, Long] = {
    val c = DriverManager.getConnection(tgtUrl)
    try tables.map(t => t -> scalar(c,
      s"""SELECT COUNT(*) FROM "tgt"."${t.toLowerCase}"""")).toMap
    finally c.close()
  }

  // ---- workload drivers -------------------------------------------------------

  final case class Setup(srcUrl: String, rows: Map[String, Long], setupS: Double,
      buildS: Seq[Double])

  /** Session start plus the source build, the build repeated `builds`
    * times (median reported; the last copy is kept).
    */
  def setup(env: Env, builds: Int): Setup = {
    val times = (1 to builds).map { i =>
      val t0 = System.nanoTime()
      val rows = buildSource(env, env.args.data, s"src$i")
      val d = (System.nanoTime() - t0) / 1e9
      if (i < builds) dropDb(s"src$i")
      (d, rows)
    }
    Setup(s"jdbc:derby:memory:src$builds", times.last._2,
      env.sessionS + Harness.median(times.map(_._1)), times.map(_._1))
  }

  /** Closed loop: one cold operation, then warm ones until the time budget
    * is spent (at least `minWarm`). A traced run traces operations 1, 4, 5,
    * 8, ...; the untraced ones in between give the overhead.
    */
  def loop[T](env: Env, minWarm: Int)(op: (Int, Boolean) => T)
      : (T, Seq[(T, Boolean)]) = {
    env.tracer.active = false
    val cold = op(0, false)
    val t0 = System.nanoTime()
    val warm = mutable.ArrayBuffer[(T, Boolean)]()
    var i = 1
    while ((env.elapsedSince(t0) < env.args.seconds || warm.size < minWarm) &&
      env.elapsedSince(t0) < 120) {
      val traced = Harness.tracedOp(env.args.trace, i)
      env.tracer.currentOp = i
      env.tracer.active = traced
      try warm += ((op(i, traced), traced))
      finally env.tracer.active = false
      i += 1
    }
    (cold, warm.toList)
  }

  /** One operation: the failed run, the operator's fix, the resumed run. */
  final case class Op(failedRun: RunStats, resumedRun: RunStats,
      loadTaskS: Double, cpBytes: Long, flushMs: Double, chunksDone: Long,
      rowsMissing: Long, clock: Option[Clock]) {
    def runs: Seq[RunStats] = Seq(failedRun, resumedRun)
    def wall: Double = failedRun.wall + resumedRun.wall
    def rowsReloaded: Long = resumedRun.loads.map(_.rows).sum
  }

  val ChunkSize = 1000L

  /** The resume workload: every operation migrates into a fresh target with
    * `resume = true` and checksum validation. A CHECK constraint planted on
    * the target right after `CREATE TABLE lineitem` rejects one seeded chunk,
    * so the first run fails with its other chunks committed and recorded in
    * the checkpoint. The harness drops the constraint (the operator's fix,
    * untimed) and resumes from the same checkpoint file. The fault is planted
    * through the executor, not a hook, because hooks are part of the resume
    * fingerprint.
    */
  def resume(env: Env): Harness.Result = {
    val su = setup(env, builds = 3)
    val bare = Harness.bareJobMs(env.spark)
    val tables = SourceTables.map(_.name)
    val srcRows = su.rows.values.sum
    val rng = new scala.util.Random(env.args.seed)
    val failures = mutable.ArrayBuffer[String]()
    val checks = mutable.LinkedHashMap[String, Boolean]()
    var attempted = 0L

    // the chunk plan of every table, from the source key ranges
    val bounds = {
      val c = DriverManager.getConnection(su.srcUrl)
      try SourceTables.map { t =>
        t.name -> (scalar(c, s"SELECT MIN(${t.key}) FROM ${t.name}"),
          scalar(c, s"SELECT MAX(${t.key}) FROM ${t.name}"))
      }.toMap
      finally c.close()
    }
    val plans = bounds.map { case (n, (lo, hi)) =>
      n -> ChunkPlanner.planChunks(lo, hi, ChunkSize) }
    val plannedChunks = plans.values.map(_.size.toLong).sum

    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      if (!ok) failures += (if (detail.isEmpty) name else s"$name: $detail")
      checks(name) = checks.getOrElse(name, true) && ok
    }

    def op(i: Int, traced: Boolean): Op = {
      val db = s"tgt$i"
      val tgtUrl = s"jdbc:derby:memory:$db;create=true"
      val cfg = config(su.srcUrl, tgtUrl)
      val cpFile = env.args.work.resolve(s"checkpoint_$i.json")
      java.nio.file.Files.deleteIfExists(cpFile)
      if (traced) { env.clock.quiesce(); env.clock.reset() }
      val li = plans("LINEITEM")
      val ch = li(rng.nextInt(li.size))
      val fault = (sql: String) =>
        if (sql.startsWith("CREATE TABLE \"tgt\".\"lineitem\""))
          Some("ALTER TABLE \"tgt\".\"lineitem\" ADD CONSTRAINT " +
            "\"perfbench_fault\" CHECK (NOT (" +
            ch.predicate("\"l_id\"") + "))")
        else None
      val r1 = migrateOnce(env, cfg, Some(cpFile), fault)
      check("the planted fault fails the first run",
        r1.error.exists(_.getMessage.contains("lineitem")),
        r1.error.map(_.toString).getOrElse("no error"))
      // the operator's fix and the bookkeeping, untimed
      val c = DriverManager.getConnection(tgtUrl)
      try exec(c, "ALTER TABLE \"tgt\".\"lineitem\" DROP CONSTRAINT " +
        "\"perfbench_fault\"") finally c.close()
      val missing = srcRows - targetCounts(tgtUrl, tables).values.sum
      val chunksDone = {
        val (fp, parts) = checkpointParts(cfg, r1.metas)
        val cp = CheckpointManager.load(cpFile.toString, fp, parts)
        r1.metas.map(m => cp.completed(m.name).size.toLong).sum
      }
      val r2 = migrateOnce(env, cfg, Some(cpFile), _ => None)
      val faultRows = {
        val cc = DriverManager.getConnection(su.srcUrl)
        try scalar(cc, "SELECT COUNT(*) FROM LINEITEM WHERE " +
          ch.predicate("L_ID")) finally cc.close()
      }
      val reloadedLi = r2.loads.filter(_.table == "lineitem").map(_.rows).sum
      check("resume reloads exactly the faulted lineitem chunk",
        reloadedLi == faultRows, s"reloaded $reloadedLi, chunk has $faultRows")
      check("resume loads exactly the rows the failed run left missing",
        r2.loads.map(_.rows).sum == missing)
      // one timed flush at the final checkpoint size
      var flushMs = 0.0
      var cpBytes = 0L
      r2.checkpoint.foreach { cp =>
        val t0 = System.nanoTime()
        cp.flush()
        flushMs = (System.nanoTime() - t0) / 1e6
        cpBytes = java.nio.file.Files.size(cpFile)
      }
      r2.error.foreach(e => check("migration completes", ok = false, e.toString))
      r2.report.foreach { rep =>
        check("validation finds no count mismatch",
          rep.validationMismatches.isEmpty, rep.validationMismatches.toString)
        check("validation finds no checksum mismatch",
          rep.checksumMismatches.isEmpty, rep.checksumMismatches.toString)
      }
      val counts =
        try targetCounts(tgtUrl, tables)
        catch { case NonFatal(_) => Map.empty[String, Long] }
      tables.foreach { t =>
        attempted += 1
        check("every target table holds its source rows",
          counts.get(t).contains(su.rows(t)),
          s"table ${t.toLowerCase}: target ${counts.get(t)}, source ${su.rows(t)}")
      }
      attempted += plannedChunks
      check("primary keys attach after the resume (no duplicate rows)",
        r2.stmts.get("pk").exists(_._1 == SourceTables.size))
      val clock = if (traced) Some(Clock.read(env.clock)) else None
      val loadTask =
        if (!traced) 0.0
        else {
          env.tasks.drain(env.spark)
          (r1.loads ++ r2.loads).map(l =>
            env.tasks.within(l.fromMs, l.toMs).map(_.runMs).sum / 1e3).sum
        }
      java.nio.file.Files.deleteIfExists(cpFile)
      dropDb(db)
      Op(r1, r2, loadTask, cpBytes, flushMs, chunksDone, missing, clock)
    }

    val (cold, warm) = loop(env, minWarm = 5)(op)
    val untraced = warm.filterNot(_._2).map(_._1)
    val traced = warm.filter(_._2).map(_._1)
    def med(ops: Seq[Op])(f: Op => Double): Double = Harness.median(ops.map(f))

    val e2e = {
      val opS = med(untraced)(_.wall)
      // per-table load wall (both runs summed), median over operations
      val perTable = tables.map(t => med(untraced)(o =>
        o.runs.flatMap(_.loads).filter(_.table == t.toLowerCase).map(_.seconds).sum))
      Seq("setup_s" -> su.setupS, "op_s" -> opS,
        "rows_per_s" -> srcRows / opS,
        "step_geomean_ms" -> Harness.geomean(perTable.filter(_ > 0)) * 1e3)
    }
    val layers = if (!env.args.trace) Nil else {
      val readS = traceReadDrain(env, su.srcUrl, bounds)
      def sumRuns(f: RunStats => Double)(o: Op) = o.runs.map(f).sum
      def phase(p: String)(o: Op) = sumRuns(_.phaseWalls.getOrElse(p, 0.0))(o)
      def stmtS(c: String)(o: Op) =
        sumRuns(_.stmts.get(c).map(_._2).getOrElse(0.0))(o)
      def stmtN(cs: Set[String])(o: Op) = sumRuns(r =>
        r.stmts.filter(kv => cs(kv._1)).values.map(_._1).sum.toDouble)(o)
      val loadS = med(traced)(phase("load"))
      val loadRows = med(traced)(o => o.runs.flatMap(_.loads).map(_.rows).sum.toDouble)
      val loadTask = med(traced)(_.loadTaskS)
      Seq(
        "introspect.s" -> med(traced)(sumRuns(_.introspect)),
        "schema.s" -> med(traced)(phase("schema")),
        "schema.stmts" -> med(traced)(stmtN(Set("create"))),
        "load.s" -> loadS,
        "load.rows" -> loadRows,
        "load.rows_per_s" -> loadRows / loadS,
        "load.chunks" -> plannedChunks.toDouble,
        "load.task_s" -> loadTask,
        "load.parallelism" -> loadTask / loadS / Harness.Cores,
        "load.read_s" -> readS,
        "load.write_s" -> (loadS - readS),
        "validate.s" -> med(traced)(phase("validate")),
        "validate.busy_s" -> med(traced)(sumRuns(_.validateCalls.map(_._2).sum)),
        "validate.digest_s" -> med(traced)(sumRuns(
          _.validateCalls.filter(_._1 == "digest").map(_._2).sum)),
        "post.s" -> med(traced)(phase("post")),
        "post.pk_s" -> med(traced)(stmtS("pk")),
        "post.index_s" -> med(traced)(stmtS("index")),
        "post.orphan_s" -> med(traced)(stmtS("orphan")),
        "post.fk_s" -> med(traced)(stmtS("fk")),
        "post.stmts" -> med(traced)(stmtN(
          Set("pk", "index", "orphan", "fk", "sequence"))),
        "target.bridged_stmts" -> med(traced)(sumRuns(_.bridged.toDouble)),
        "checkpoint.load_s" -> med(traced)(sumRuns(_.checkpointLoad)),
        "checkpoint.flush_ms" -> med(traced)(_.flushMs),
        "checkpoint.bytes" -> med(traced)(_.cpBytes.toDouble),
        "checkpoint.chunks_done" -> med(traced)(_.chunksDone.toDouble),
        "resume.s" -> med(traced)(_.resumedRun.wall),
        "resume.rows_reloaded" -> med(traced)(_.rowsReloaded.toDouble),
        "resume.rework_ratio" ->
          med(traced)(o => o.rowsReloaded.toDouble / o.rowsMissing),
        "cold.s" -> cold.wall,
        "bare_job_ms" -> bare,
        "trace.overhead_s" -> (med(traced)(_.wall) - med(untraced)(_.wall))) ++
        Clock.metrics(f => med(traced)(_.clock.map(f).getOrElse(0.0)))
    }
    val all = cold +: warm.map(_._1)
    val summary = Seq(
      "ops" -> all.size.toString, "source_rows" -> srcRows.toString,
      "planned_chunks" -> plannedChunks.toString,
      "chunks_per_table" -> Json.obj(plans.toSeq.sortBy(_._1)
        .map { case (n, p) => n.toLowerCase -> p.size.toDouble }),
      "rows_per_table" -> Json.obj(su.rows.toSeq.sortBy(_._1)
        .map { case (n, r) => n.toLowerCase -> r.toDouble }),
      "op_walls_s" -> all.map(o => Json.num(o.wall)).mkString("[", ",", "]"),
      "resume_s" -> Json.num(med(untraced)(_.resumedRun.wall)),
      "bare_job_ms" -> Json.num(bare),
      "session_s" -> Json.num(env.sessionS),
      "source_build_s" -> su.buildS.map(Json.num).mkString("[", ",", "]"))
    Harness.Result(e2e ++ layers, attempted, failures.size.toLong,
      failures.distinct.toList, checks.toSeq, summary)
  }

  /** Traced runs only: drain `JdbcSource.read` over the same chunk
    * predicates the loader uses, to split load time into read and write.
    * Returns the read wall for one operation's worth of tables.
    */
  def traceReadDrain(env: Env, srcUrl: String,
      bounds: Map[String, (Long, Long)]): Double =
    SourceTables.map { t =>
      val preds = graft.sources.JdbcSource.partitionPredicates(
        GenericJdbcDialect, t.key, Some(bounds(t.name)), ChunkSize, Harness.Cores)
      val t0 = System.nanoTime()
      val df = graft.sources.JdbcSource.readWithPredicates(env.spark,
        GenericJdbcDialect,
        graft.sources.JdbcSource.ReadSpec(srcUrl, t.name, Some(t.key)), preds)
      env.spark.sparkContext.runJob(df.rdd,
        (it: Iterator[org.apache.spark.sql.Row]) => it.size)
      (System.nanoTime() - t0) / 1e9
    }.sum
}
