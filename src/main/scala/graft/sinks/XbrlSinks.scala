package graft.sinks

import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.jdk.CollectionConverters._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{broadcast, col, count, explode, lit, map_keys}

import graft.plans.FactTableBuilder
import graft.xbrl.{Concept, TableSchema, Taxonomy}

/** Output sinks + descriptors (SURVEY.md §2.2 `xbrl_write`; reference
  * cli.py:101-130, xbrl.py:257-281).
  *
  * Parquet is the lake format (partitionable, predicate-pushable at
  * 100 TB): every XBRL parquet table — `graft.Main`, `extractToParquet`
  * and the x05 gate alike — is written by [[writeTables]], the batched
  * writer over the shared grouped fact store. CSV is for interchange,
  * JDBC for the reference's SQLite/DuckDB use case (tested on embedded
  * Derby; any JDBC driver on the classpath works the same way). The
  * datapackage descriptor and taxonomy metadata JSON mirror the
  * reference's Frictionless output field-for-field.
  */
object XbrlSinks {

  /** One table's write outcome: `(table_name, n_rows, n_cols, error)` —
    * `n_rows` is None and `error` names the cause when the table failed.
    */
  type TableWrite = (String, Option[Long], Int, Option[String])

  /** Single-file tables per batched Spark job. */
  private val WriteBatch = 64

  /** The one parquet writer for XBRL output tables: build every table
    * in `schemas` from the caller's grouped fact store
    * ([[graft.plans.FactTableBuilder.groupedStore]] — the caller owns
    * its persistence and release), write each to
    * `<tablesDir>/<name>.parquet` (a Spark parquet directory whose name
    * carries the suffix, so the layout agrees with the descriptor's
    * `path`; cli.py:211-230) and return one summary row per table
    * `(table_name, n_rows, n_cols, error)` ordered by name. Descriptors
    * are the caller's: written after this returns, from
    * [[writtenSchemas]], they list only the tables that landed.
    *
    * Partial output: a failed table surfaces as its summary row's
    * `error` — the other tables still write and report counts (one
    * transient failure must not destroy a 255-table run's record). A
    * rerun into the same `tablesDir` replaces each table's files. If
    * `timeout` expires, the in-flight write jobs are cancelled through
    * their job group and the call throws.
    *
    * Scale shape: the store aggregated the corpus ONCE (three
    * exchanges); every table is a map-only filter-projection over it —
    * no per-table shuffle, no per-table corpus pass. Row counts ride the
    * writes (no second pass over any table), and the driver holds only
    * table names and counts, never table data. Builds and jobs are
    * submitted from a driver pool of `max(16, defaultParallelism)`
    * threads: the per-table jobs are small, so the pool width IS the
    * write concurrency (measured r17: 255 writes 6.2-7.2 s at 16
    * threads vs 5.4-5.8 s at 32 on a 32-core session).
    *
    * File sizing: each table writes `ceil(rows / targetRowsPerFile)`
    * files (min 1), from [[estimateTableRows]] over the store (or the
    * caller's `rowEstimates`, e.g. cached beside a session-cached store)
    * — ferc1-sized tables keep the reference's one-file-per-table layout
    * while a mega-table's write parallelizes instead of funnelling
    * through one task. Tables past `targetRowsPerFile` take the standard
    * multi-file DataFrame write (their data amortizes the per-job
    * constants).
    *
    * Batched writes (r18): single-file tables do not run one SQL write
    * command each — measured r18, each such job cost ~80 ms of task
    * time but ~235 ms of single-threaded driver constants (stage
    * creation + task-binary broadcast including a fresh ~100 KB
    * serialized Hadoop conf, on the DAGScheduler event loop), so 255
    * jobs serialized ~4-6 s that a pool could not hide. Each such
    * table's plan compiles to its RDD (in parallel, on the pool), the
    * RDDs union into jobs of up to [[WriteBatch]] tables, and each task
    * writes ITS table's file ([[ParquetShim.writeOneTable]]) — the same
    * files-on-disk contract (one `part-*.snappy.parquet` + `_SUCCESS`
    * per table dir). A table failure inside a batch is caught in its
    * task and reported as that table's error row.
    */
  def writeTables(
      schemas: Seq[TableSchema],
      store: DataFrame,
      tablesDir: String,
      rowEstimates: Option[Map[String, Long]] = None,
      targetRowsPerFile: Long = 4000000L,
      timeout: Duration = Duration(30, "min"),
      buildTable: (TableSchema, DataFrame) => DataFrame =
        FactTableBuilder.buildFromStore): DataFrame = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive: $targetRowsPerFile")
    // validate at the sink boundary BEFORE any table job runs
    validateSchemas(schemas)
    val spark = store.sparkSession
    val runId = java.util.UUID.randomUUID().toString
    val jobGroup = s"graft-write-tables-$runId"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(16, spark.sparkContext.defaultParallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def dir(t: TableSchema) = s"$tablesDir/${t.name}.parquet"
    def failed(t: TableSchema, e: Throwable): TableWrite =
      (t.name, None, t.fields.size, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    val summary =
      try {
        val estimates = rowEstimates.getOrElse(estimateTableRows(spark, schemas, store))
        def nFiles(t: TableSchema): Long = math.max(1L,
          (estimates.getOrElse(t.name, 0L) + targetRowsPerFile - 1) / targetRowsPerFile)
        val (smalls, bigs) = schemas.partition(nFiles(_) == 1L)

        val bigJobs = bigs.map { t =>
          Future {
            // group tags this pool thread's jobs so a timeout can cancel
            // the in-flight writes instead of letting them run headless
            spark.sparkContext.setJobGroup(jobGroup,
              s"graft parquet table ${t.name}", interruptOnCancel = true)
            try {
              val obs = org.apache.spark.sql.Observation()
              buildTable(t, store)
                .coalesce(nFiles(t).toInt)
                .observe(obs, count(lit(1)).as("n"))
                .write.mode("overwrite").parquet(dir(t))
              (t.name, Some(obs.get("n").asInstanceOf[Long]), t.fields.size, None): TableWrite
            } catch { case NonFatal(e) => failed(t, e) }
          }
        }

        val confBox = spark.sparkContext.broadcast(
          new ParquetShim.ConfBox(ParquetShim.writeConf(spark)))
        val builds = smalls.map { t =>
          Future {
            try {
              val df = buildTable(t, store)
              Right((ParquetShim.TableFile(t.name, dir(t), df.schema, t.fields.size),
                df.queryExecution.toRdd.coalesce(1)))
            } catch { case NonFatal(e) => Left(failed(t, e)) }
          }
        }
        val batched = Future.sequence(builds).flatMap { eithers =>
          val errRows = eithers.collect { case Left(r) => r }
          val built = eithers.collect { case Right(b) => b }
          val batchJobs = built.grouped(WriteBatch).toSeq.map { group =>
            Future {
              spark.sparkContext.setJobGroup(jobGroup,
                s"graft parquet batch of ${group.size} tables", interruptOnCancel = true)
              val files = group.map(_._1).toArray
              spark.sparkContext.runJob(spark.sparkContext.union(group.map(_._2)),
                (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) =>
                  ParquetShim.writeOneTable(files(ctx.partitionId()), runId, confBox.value.conf,
                    ctx.taskAttemptId(), it)).toSeq
            }
          }
          Future.sequence(batchJobs).map(rs => errRows ++ rs.flatten)
        }

        val all = Future.sequence(bigJobs).zip(batched).map { case (b, s) => s ++ b }
        try Await.result(all, timeout)
        catch {
          case e: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelJobGroup(jobGroup)
            pool.shutdownNow()
            throw new java.util.concurrent.TimeoutException(
              s"parquet write exceeded $timeout; in-flight table jobs cancelled " +
                s"(job group $jobGroup): ${e.getMessage}")
        }
      } finally {
        pool.shutdown()
        // the staging dirs of attempts that died before cleaning up
        val staging = ParquetShim.stagingDir(tablesDir, runId)
        try {
          val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
          fs.delete(staging, true)
          fs.delete(staging.getParent, false) // only if no other run is staging
        } catch { case NonFatal(_) => () }
      }
    import spark.implicits._
    summary.toDF("table_name", "n_rows", "n_cols", "error").orderBy("table_name")
  }

  /** The schemas of the tables a [[writeTables]] summary reports
    * written, in schema order — what a descriptor written after the
    * tables lists, so it never references missing or partial data.
    */
  def writtenSchemas(schemas: Seq[TableSchema], summary: Seq[Row]): Seq[TableSchema] = {
    val failed = summary.filterNot(_.isNullAt(3)).map(_.getString(0)).toSet
    schemas.filterNot(t => failed(t.name))
  }

  /** Fails a run whose [[writeTables]] summary reports failed tables,
    * naming each with its error. Callers write their descriptors first,
    * so the partial output stays described.
    */
  def requireAllWritten(summary: Seq[Row], tablesDir: String): Unit = {
    val failed = summary.filterNot(_.isNullAt(3))
    if (failed.nonEmpty) throw new IllegalStateException(
      s"${failed.size} of ${summary.size} tables failed to write to $tablesDir: " +
        failed.map(r => s"${r.getString(0)} (${r.getString(3)})").mkString("; "))
  }

  /** Upper-bound per-table row counts from the shared store in ONE job:
    * explode each store row's fact names against the broadcast
    * (name, period) -> table mapping and count distinct store rows per
    * table. Overcounts only rows the per-table axis-subset filter later
    * drops. The driver receives one count per TABLE — taxonomy-bounded
    * metadata (255 rows for ferc1), never data-scaled.
    *
    * This IS one extra aggregation pass over the store beyond the
    * store's own materialization; it has never registered in the x05
    * profile (the store is persisted, the pass is a cached scan into a
    * 255-row agg). If it ever does, piggyback the counts on the store's
    * materialization via `observe` metrics instead of a second pass.
    */
  private[graft] def estimateTableRows(
      spark: SparkSession,
      schemas: Seq[TableSchema],
      store: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val mapping = schemas
      .flatMap(t => t.dataColumns.map(c => (c.name, t.periodType == "instant", t.name)))
      .toDF("name", "instant", "table_name")
    store
      .select(col("filing_name"), col("c_id"), col("instant"),
        explode(map_keys(col("factmap"))).as("name"))
      .join(broadcast(mapping), Seq("name", "instant"))
      .select("table_name", "filing_name", "c_id").distinct()
      .groupBy("table_name").count()
      .as[(String, Long)]
      .collect().toMap // one row per table: metadata, not data
  }

  def writeCsv(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").option("header", "true").csv(s"$outDir/$name")
    }

  /** JDBC load — the analog of the reference's SQLite `to_sql` replace
    * (cli.py:110-118).
    */
  def writeJdbc(tables: Map[String, DataFrame], url: String, props: Properties = new Properties()): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").jdbc(url, name, props)
    }

  /** Descriptor validation before writing — the consistency checks the
    * reference gets from Pydantic/frictionless `model_validate`
    * (datapackage.py:57-64, surfaced in xbrl.py:257-268): non-empty
    * unique resource names, unique field names per resource, primary key
    * a subset of the fields, and — when the extracted table set is
    * known — resource names exactly matching table names. Catches
    * schema-derivation regressions at the sink boundary instead of in
    * the downstream loader.
    */
  def validateSchemas(schemas: Seq[TableSchema], tableNames: Option[Set[String]] = None): Unit = {
    val dupRes = schemas.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dupRes.isEmpty, s"duplicate resource names: ${dupRes.mkString(", ")}")
    schemas.foreach { t =>
      require(t.name.nonEmpty, "empty resource name")
      val dupF = t.fields.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
      require(dupF.isEmpty, s"${t.name}: duplicate field names: ${dupF.mkString(", ")}")
      val fieldNames = t.fields.map(_.name).toSet
      val missing = t.primaryKey.filterNot(fieldNames)
      require(missing.isEmpty, s"${t.name}: primary key columns not in fields: ${missing.mkString(", ")}")
    }
    tableNames.foreach { names =>
      val schemaNames = schemas.map(_.name).toSet
      require(schemaNames == names,
        s"resource/table mismatch: only-in-schemas=${(schemaNames -- names).mkString(", ")} " +
          s"only-in-tables=${(names -- schemaNames).mkString(", ")}")
    }
  }

  /** Frictionless datapackage descriptor (datapackage.py:19-115,
    * 292-341, 462-471), serialized with the reference's aliases.
    * Validates schema consistency before serializing.
    */
  def datapackageJson(schemas: Seq[TableSchema], dbUri: String, formNumber: Int = 1,
      tableNames: Option[Set[String]] = None): String = {
    validateSchemas(schemas, tableNames)
    def field(f: graft.xbrl.TableField) = ordered(
      "name" -> f.name, "title" -> f.title, "type" -> f.schemaType,
      "format" -> "default", "description" -> f.description)
    val resources = schemas.map { t =>
      ordered(
        "path" -> dbUri,
        "profile" -> "tabular-data-resource",
        "name" -> t.name,
        "dialect" -> ordered("table" -> t.name),
        "title" -> t.title,
        "description" -> t.description,
        "format" -> "sqlite",
        "mediatype" -> "application/vnd.sqlite3",
        "schema" -> ordered(
          "fields" -> t.fields.map(field).asJava,
          "primary_key" -> t.primaryKey.asJava))
    }
    val pkg = ordered(
      "profile" -> "tabular-data-package",
      "name" -> s"ferc$formNumber-extracted-xbrl",
      "title" -> "Ferc1 data extracted from XBRL filings",
      "resources" -> resources.asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(pkg)
  }

  /** Parquet-flavored descriptor — the reference's converted datapackage
    * for its parquet output (cli.py:211-230): each resource points at
    * `<name>.parquet` with parquet format/mediatype and no dialect.
    */
  def datapackageParquetJson(schemas: Seq[TableSchema], formNumber: Int = 1,
      tableNames: Option[Set[String]] = None): String = {
    validateSchemas(schemas, tableNames)
    def field(f: graft.xbrl.TableField) = ordered(
      "name" -> f.name, "title" -> f.title, "type" -> f.schemaType,
      "format" -> "default", "description" -> f.description)
    val resources = schemas.map { t =>
      ordered(
        "path" -> s"${t.name}.parquet",
        "profile" -> "tabular-data-resource",
        "name" -> t.name,
        "title" -> t.title,
        "description" -> t.description,
        "format" -> "parquet",
        "mediatype" -> "application/vnd.apache.parquet",
        "schema" -> ordered(
          "fields" -> t.fields.map(field).asJava,
          "primary_key" -> t.primaryKey.asJava))
    }
    val pkg = ordered(
      "profile" -> "tabular-data-package",
      "name" -> s"ferc$formNumber-extracted-xbrl",
      "title" -> "Ferc1 data extracted from XBRL filings",
      "resources" -> resources.asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(pkg)
  }

  /** Taxonomy metadata JSON: per table (clean name + period suffix), the
    * leaf concepts' references / calculations / balance
    * (taxonomy.py:125-150, 265-297; arelle_interface.py:92-166,
    * including the single-reference single-part flattening).
    */
  def metadataJson(taxonomies: Seq[Taxonomy]): String = {
    val out = new java.util.LinkedHashMap[String, Object]()
    for (periodType <- Seq("duration", "instant"); tx <- taxonomies.sortBy(_.version); role <- tx.roles) {
      graft.plans.FactTableSchema.cleanTableName(role.definition).foreach { cleaned =>
        val collected = new java.util.LinkedHashMap[String, Object]()
        collectMetadata(role.concepts, periodType, collected)
        out.put(s"${cleaned}_$periodType", new java.util.ArrayList[Object](collected.values()))
      }
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(out)
  }

  private def collectMetadata(
      c: Concept,
      periodType: String,
      out: java.util.LinkedHashMap[String, Object]): Unit =
    if (c.children.nonEmpty) c.children.foreach(collectMetadata(_, periodType, out))
    else if (c.periodType == periodType) {
      val refs = new java.util.LinkedHashMap[String, Object]()
      c.references.toSeq.sortBy(_._1).foreach { case (refName, partsList) =>
        // flatten single-reference single-part entries named like the
        // reference role (arelle_interface.py:139-144)
        val flat: Object = partsList match {
          case Seq(single) if single.size == 1 && single.contains(refName) => single(refName)
          case _ => partsList.map(m => sortedMap(m)).asJava
        }
        refs.put(refName, flat)
      }
      val meta = ordered(
        "name" -> graft.xbrl.Names.snakecase(c.name),
        "references" -> refs,
        "calculations" -> c.calculations.map(cal =>
          ordered("name" -> cal.name, "weight" -> java.lang.Double.valueOf(cal.weight))).asJava,
        "balance" -> c.balance.orNull)
      out.put(c.name, meta)
    }

  def writeString(path: String, content: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def ordered(kvs: (String, Object)*): java.util.LinkedHashMap[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def sortedMap(m: Map[String, String]): java.util.LinkedHashMap[String, Object] = {
    val out = new java.util.LinkedHashMap[String, Object]()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => out.put(k, v) }
    out
  }
}
