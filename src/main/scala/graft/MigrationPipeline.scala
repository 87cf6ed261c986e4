package graft

import graft.config.JobConfig
import graft.sources._
import scala.util.control.NonFatal

/** Target-side statement executor boundary. Production wires a JDBC
  * connection to PostgreSQL; tests record. The pipeline only speaks SQL
  * strings through this seam.
  */
trait SqlExecutor {
  def execute(sql: String): Unit

  /** Execute INDEPENDENT statements with up to `workers` parallelism
    * (the reference's index-build pool, `post.go:292-366`). Default is
    * serial, so recording/test executors keep deterministic order;
    * [[JdbcExecutor]] overrides with a real pool + first-error cancel.
    */
  def executeAll(sqls: Seq[String], workers: Int): Unit =
    sqls.foreach(execute)
}

/** Per-table load callback: given the table, stream its data to the
  * target and return rows written. In production this is a Spark job —
  * chunked JDBC read (ChunkPlanner predicates) → transform projection →
  * CopySink.writePartition per chunk; the pipeline only cares about
  * orchestration order.
  */
trait TableLoader {
  def load(table: TableMeta): Long
  /** Source-side row count for validation (reference `validate.go:34-36`). */
  def sourceCount(table: TableMeta): Long
  /** Target-side row count (reference `validate.go:87-98`). */
  def targetCount(table: TableMeta): Long
  /** Order-insensitive content digest of the source table
    * (`"<count>:<sum of per-row md5 prefixes>"`) for `validation =
    * "checksum"` — BEYOND the reference, which only compares counts
    * (`validate.go:42-135`): equal counts with corrupted, truncated or
    * default-filled values still pass a count check. None = this
    * loader can't compute digests (checksum validation then degrades
    * to the count compare for the table).
    */
  def sourceDigest(table: TableMeta): Option[String] = None
  /** Target-side content digest; see [[sourceDigest]]. */
  def targetDigest(table: TableMeta): Option[String] = None
}

final case class MigrationReport(
    tablesCreated: Seq[String],
    rowsLoaded: Map[String, Long],
    validationMismatches: Map[String, (Long, Long)],
    statementsExecuted: Int,
    checksumMismatches: Map[String, (String, String)] = Map.empty)

/** The reference's migration lifecycle (`main.go:125-348` +
  * `post.go:17-100`), re-expressed as driver-side orchestration around
  * Spark load jobs. Phase order is load-bearing and mirrored exactly:
  *
  *  1. create enum types, then bare (optionally UNLOGGED) tables
  *  2. before_data hooks → data load → after_data hooks
  *  3. row-count validation
  *  4. post: SET LOGGED → primary keys → indexes → before_fk hooks →
  *     orphan cleanup (anti-join, delegated to [[operators]]) → foreign
  *     keys → sequence resets → after_all hooks
  *
  * schema_only skips 2-3 (and SET LOGGED / orphan cleanup) but still
  * attaches constraints in 4; data_only skips 1 and all post DDL except
  * sequence resets (reference `main.go:288-326,350-402`,
  * `post.go:17-100`).
  */
final class MigrationPipeline(
    cfg: JobConfig,
    exec: SqlExecutor,
    loader: TableLoader,
    hookSql: Map[String, String] = Map.empty,
    checkpoint: Option[graft.checkpoint.CheckpointManager] = None) {

  private var stmtCount = 0
  private def run(sql: String): Unit = { stmtCount += 1; exec.execute(sql) }

  // flush the checkpoint's partial progress before `failure` propagates;
  // a flush that fails as well is attached to it, never thrown in its place
  private def flushOnFailure(failure: Throwable): Unit =
    checkpoint.foreach { cp =>
      try cp.flush()
      catch { case NonFatal(f) => failure.addSuppressed(f) }
    }

  private def runHooks(phase: String): Unit =
    hookSql.get(phase).toSeq.flatMap(Hooks.splitStatements)
      .filter(Hooks.isExecutable)
      .map(Hooks.substituteSchema(_, cfg.targetSchema))
      .foreach(run)

  def migrate(tables: Seq[TableMeta],
      enumValueSets: Seq[Seq[String]] = Nil,
      requiredExtensions: Seq[String] = Nil): MigrationReport = {
    val schema = cfg.targetSchema
    // UNLOGGED only pays off for the bulk load; split modes force it off
    // (reference main.go:129-132)
    val unlogged = cfg.unloggedTables && !cfg.schemaOnly && !cfg.dataOnly

    // 0. required extensions (citext for _ci collations, postgis for
    // spatial) are ensured before any schema or data work — in ALL
    // modes, since geometry/citext DDL and COPY both depend on them
    // (reference main.go:255-264 / extensions.go:101-131).
    requiredExtensions.distinct.foreach(ext =>
      run(s"CREATE EXTENSION IF NOT EXISTS ${SchemaMapping.pgIdent(ext)}"))

    // 1. schema phase. recreate drops existing targets first (reference
    // on_schema_exists=recreate, main.go:448-452). Resume skips CREATE
    // for tables the prior run already created (recorded in the
    // checkpoint as table presence) — without this, a resumed run would
    // die on the first duplicate CREATE TABLE.
    if (!cfg.dataOnly) {
      // Dedup by the hash-derived TYPE NAME, not the raw value order:
      // two enum columns declaring the same values in different order
      // share one PG type (reference ddl.go:149-156 `created` map), so
      // raw-order distinct would emit two CREATEs for one name.
      val enumSets = enumValueSets
        .groupBy(vs => SchemaMapping.enumTypeName(vs))
        .values.map(_.head).toSeq
      if (cfg.recreate) {
        tables.foreach(t => run(DdlGenerator.dropTable(schema, t.name)))
        // recreate really does want the types gone (value sets may have
        // changed source-side); create below is idempotent regardless
        enumSets.foreach(vs => run(DdlGenerator.dropEnumType(schema, vs)))
      }
      enumSets.foreach(vs => run(DdlGenerator.createEnumType(schema, vs)))
      // flush on failure too: if a CREATE fails mid-loop, the tables
      // already created must reach the checkpoint file or the next
      // resume re-issues their CREATE and dies on duplicate tables
      try tables.foreach { t =>
        if (!checkpoint.exists(_.hasTable(t.name))) {
          run(DdlGenerator.createTable(schema, t, unlogged = unlogged))
          checkpoint.foreach(_.ensureTable(t.name))
        }
      } catch { case e: Throwable => flushOnFailure(e); throw e }
      checkpoint.foreach(_.flush())
    }

    // 2. data phase (hooks bracket the load, reference main.go:288-326).
    // data_only loads into a pre-existing constrained schema, so target
    // triggers are disabled BEFORE the before_data hooks and re-enabled
    // in a finally even when the load or a hook fails — otherwise FK
    // constraint triggers would stay off (reference main.go:350-402
    // disables first, then defers re-enable joining both errors).
    def setTriggers(enable: Boolean): Unit =
      tables.foreach(t => run(
        s"ALTER TABLE ${SchemaMapping.pgIdent(schema)}." +
          s"${SchemaMapping.pgIdent(t.name)} " +
          (if (enable) "ENABLE" else "DISABLE") + " TRIGGER ALL"))
    // Fully-done tables are skipped outright on resume; partially-done
    // tables re-enter loader.load, which skips completed chunks
    // internally. On ANY load failure the checkpoint flushes its partial
    // progress before the error propagates (reference
    // migrate.go:122-146); after a fully-successful data phase the file
    // is deleted — nothing remains to resume (migrate.go:251-254).
    def dataPhase(): Map[String, Long] = {
      runHooks("before_data")
      val loaded =
        try tables.map { t =>
          checkpoint match {
            case Some(cp) if cp.isTableDone(t.name) =>
              t.name -> cp.rowsCopied(t.name)
            case cp =>
              val n = loader.load(t)
              cp.foreach(_.markTableDone(t.name))
              // resumed tables report prior + new rows; without a
              // checkpoint the loader's count is the total
              t.name -> cp.map(_.rowsCopied(t.name)).getOrElse(n)
          }
        }.toMap
        catch { case e: Throwable => flushOnFailure(e); throw e }
      runHooks("after_data")
      checkpoint.foreach(_.cleanup())
      loaded
    }
    val loaded =
      if (cfg.schemaOnly) Map.empty[String, Long]
      else if (!cfg.dataOnly) dataPhase()
      else {
        setTriggers(enable = false)
        var failed: Throwable = null
        try dataPhase()
        catch { case e: Throwable => failed = e; throw e }
        finally {
          try setTriggers(enable = true)
          catch {
            case e: Throwable =>
              if (failed != null) failed.addSuppressed(e) else throw e
          }
        }
      }

    // 3. validation (reference validate.go:42-135; skipped in
    // schema_only — there is no data to compare, main.go:328-339), one
    // pass over the tables bounded by `workers`, like the reference's
    // validation pool. `checksum` adds content digests to the count
    // compare; a table whose loader can't digest (None) is checked by
    // its counts alone.
    val validating =
      Set("row_count", "checksum")(cfg.validation) && !cfg.schemaOnly
    val verdicts =
      if (!validating) Nil
      else Parallel.inParallel(tables, cfg.workers) { t =>
        val counts = (loader.sourceCount(t), loader.targetCount(t))
        val digests =
          if (cfg.validation == "checksum")
            (loader.sourceDigest(t), loader.targetDigest(t))
          else (None, None)
        (t.name, counts, digests)
      }
    val mismatches = verdicts.collect {
      case (name, counts @ (src, tgt), _) if src != tgt => name -> counts
    }.toMap
    val checksumMismatches = verdicts.collect {
      case (name, _, (Some(src), Some(tgt))) if src != tgt =>
        name -> (src, tgt)
    }.toMap

    // 4. post phase (reference post.go:17-100 order). data_only skips
    // all DDL (constraints already exist on the pre-created schema) —
    // only sequences and after_all hooks apply. schema_only runs the
    // constraint DDL but skips SET LOGGED (tables were created LOGGED)
    // and orphan cleanup (no data).
    if (!cfg.dataOnly) {
      if (unlogged)
        tables.foreach(t => run(DdlGenerator.setLogged(schema, t.name)))
      tables.foreach(t => DdlGenerator.addPrimaryKey(schema, t).foreach(run))
      // secondary indexes build in parallel (index_workers pool,
      // reference post.go:292-366) — they are independent statements.
      // Unsupported shapes (expression/prefix key-parts, FULLTEXT/
      // SPATIAL, empty column lists) are SKIPPED here exactly as the
      // reference's planIndexJobs does (index_compat.go:5-31,
      // post.go:247-259) — previously only the `plan` dry-run applied
      // the rule and the migrate path emitted invalid DDL for them
      // (caught by SqliteContractSpec's partial-index replay).
      val ixSql = tables.flatMap(t => t.indexes.filterNot(_.isPrimary)
        .filter(ix => PlanReport.indexSkipReason(ix).isEmpty &&
          ix.columns.nonEmpty)
        .map(ix => DdlGenerator.createIndex(schema, t.name, ix)))
      stmtCount += ixSql.size
      exec.executeAll(ixSql, cfg.indexWorkers)
      runHooks("before_fk")
      // orphan cleanup precedes FK attachment so ADD CONSTRAINT cannot
      // fail on pre-existing orphans (reference post.go:57-66; MySQL
      // admits them via SET FOREIGN_KEY_CHECKS=0)
      if (cfg.cleanOrphans && !cfg.schemaOnly)
        tables.foreach(t => t.foreignKeys.foreach(fk =>
          run(DdlGenerator.cleanOrphansSql(schema, t.name, fk))))
      tables.foreach(t => t.foreignKeys
        .foreach(fk => run(DdlGenerator.addForeignKey(schema, t.name, fk))))
    }
    tables.foreach { t =>
      t.columns.collectFirst {
        case (name, pgType, _, _)
          if t.primaryKey.exists(_.columns == Seq(name)) &&
            (pgType == "bigint" || pgType == "integer" ||
              pgType == "smallint") =>
          run(DdlGenerator.resetSequence(schema, t.name, name))
      }
    }
    if (!cfg.dataOnly) {
      if (cfg.addUnsignedChecks)
        tables.foreach(t => t.unsignedColumns.foreach { case (c, dt) =>
          DdlGenerator.unsignedCheck(schema, t.name, c, dt).foreach(run)
        })
      if (cfg.replicateOnUpdateCurrentTimestamp)
        tables.foreach(t => t.onUpdateColumns.foreach(c =>
          DdlGenerator.onUpdateTrigger(schema, t.name, c).foreach(run)))
    }
    runHooks("after_all")

    MigrationReport(tables.map(_.name), loaded, mismatches, stmtCount,
      checksumMismatches)
  }
}
