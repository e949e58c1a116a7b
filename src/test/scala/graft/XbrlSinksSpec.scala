package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sinks.XbrlSinks
import org.apache.spark.sql.functions._

/** End-to-end extract + sinks: requested-table extraction on real ferc1
  * data, parquet round-trip, datapackage/metadata JSON structure, and a
  * JDBC load into embedded Derby (the engine's SQLite analog).
  */
class XbrlSinksSpec extends SparkSpec {

  private val dataDir = "/root/reference/tests/integration/data"
  private val requested = Set("identification_001_duration",
    "energy_storage_operations_small_plants_419_duration")

  private lazy val out = XbrlExtract.extract(
    spark,
    Seq(s"$dataDir/ferc1-xbrl-2021.zip"),
    s"$dataDir/ferc1-xbrl-taxonomies.zip",
    requestedTables = Some(requested))

  test("requested-table filtering matches the reference CLI surface") {
    assert(out.tables.keySet === requested)
    assert(out.schemas.map(_.name).toSet === requested)
  }

  test("instance pattern restricts extraction like the reference CLI") {
    val filtered = XbrlExtract.extract(
      spark,
      Seq(s"$dataDir/ferc1-xbrl-2021.zip"),
      s"$dataDir/ferc1-xbrl-taxonomies.zip",
      requestedTables = Some(Set("identification_001_duration")),
      instancePattern = Some("Deseret"))
    val rows = filtered.tables("identification_001_duration").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("filing_name").contains("Deseret"))
  }

  test("parquet sink round-trips the identification table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    XbrlSinks.writeTables(out.schemas.filter(_.name == "identification_001_duration"),
      out.store, dir)
    val back = spark.read.parquet(s"$dir/identification_001_duration.parquet")
    assert(back.count() === 10L)
    assert(back.filter(col("report_date") === "2022-04-13").count() >= 1L)
  }

  /** x05's datapackage layout through the one writer: tables under
    * `<dir>/tables/`, then the descriptor of the tables that landed and
    * the taxonomy metadata.
    */
  private def writeDatapackage(
      taxonomies: Seq[graft.xbrl.Taxonomy],
      schemas: Seq[graft.xbrl.TableSchema],
      parsed: graft.sources.ParsedFilings,
      dir: String,
      targetRowsPerFile: Long = 4000000L,
      timeout: scala.concurrent.duration.Duration = scala.concurrent.duration.Duration(30, "min"),
      buildTable: (graft.xbrl.TableSchema, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame = graft.plans.FactTableBuilder.buildFromStore)
      : org.apache.spark.sql.DataFrame = {
    val store = graft.plans.FactTableBuilder.groupedStore(
      schemas, parsed.facts, parsed.contexts, parsed.meta).persist()
    try {
      val summary = XbrlSinks.writeTables(schemas, store, s"$dir/tables",
        targetRowsPerFile = targetRowsPerFile, timeout = timeout, buildTable = buildTable)
      XbrlSinks.writeString(s"$dir/datapackage.json", XbrlSinks.datapackageParquetJson(
        XbrlSinks.writtenSchemas(schemas, summary.collect().toSeq)))
      XbrlSinks.writeString(s"$dir/taxonomy_metadata.json", XbrlSinks.metadataJson(taxonomies))
      summary
    } finally store.unpersist()
  }

  private def partFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  test("writeTables writes tables + descriptors with observe-exact counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_scoped").toString
    val taxonomies = graft.sources.TaxonomyParser.parseArchive(
      s"$dataDir/ferc1-xbrl-taxonomies.zip")
    val schemas = graft.plans.FactTableSchema.fromTaxonomies(taxonomies)
      .filter(t => requested.contains(t.name))
    val parsed = graft.sources.FilingSource.fromZip(spark, s"$dataDir/ferc1-xbrl-2021.zip")
    try {
      val summary = writeDatapackage(taxonomies, schemas, parsed, dir).collect()
      assert(summary.map(_.getString(0)).toSet === requested)
      // the observe-piggybacked counts must equal what actually landed,
      // and n_cols the written width; nothing failed
      summary.foreach { r =>
        val back = spark.read.parquet(s"$dir/tables/${r.getString(0)}.parquet")
        assert(back.count() === r.getLong(1), r.getString(0))
        assert(back.columns.length === r.getInt(2), r.getString(0))
        assert(r.isNullAt(3), s"${r.getString(0)}: ${r.getString(3)}")
        // ferc1-sized tables keep the reference's one-file-per-table
        // layout under the size-aware default
        assert(partFiles(s"$dir/tables/${r.getString(0)}.parquet").length === 1, r.getString(0))
      }
      assert(summary.find(_.getString(0) == "identification_001_duration")
        .get.getLong(1) === 10L)
      val root = new ObjectMapper().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/datapackage.json")))
      val resources = root.get("resources").elements()
      val names = Iterator.continually(resources)
        .takeWhile(_.hasNext).map(_.next().get("name").asText()).toSet
      assert(names === requested)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/taxonomy_metadata.json")))
    } finally parsed.unpersist()
  }

  test("datapackage write contains a failed table: others report, descriptor lists only written tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_contained").toString
    val taxonomies = graft.sources.TaxonomyParser.parseArchive(
      s"$dataDir/ferc1-xbrl-taxonomies.zip")
    val schemas = graft.plans.FactTableSchema.fromTaxonomies(taxonomies)
      .filter(t => requested.contains(t.name))
    val parsed = graft.sources.FilingSource.fromZip(spark, s"$dataDir/ferc1-xbrl-2021.zip")
    val poison = "energy_storage_operations_small_plants_419_duration"
    try {
      val summary = writeDatapackage(
        taxonomies, schemas, parsed, dir,
        buildTable = (t, st) =>
          if (t.name == poison) throw new RuntimeException("injected table failure")
          else graft.plans.FactTableBuilder.buildFromStore(t, st)).collect()
      // the failure is NAMED in its summary row; the other table still
      // wrote and reports its counts
      assert(summary.length === 2)
      val failed = summary.find(_.getString(0) == poison).get
      assert(failed.isNullAt(1))
      assert(failed.getString(3).contains("injected table failure"))
      val ok = summary.find(_.getString(0) == "identification_001_duration").get
      assert(ok.getLong(1) === 10L && ok.isNullAt(3))
      assert(spark.read.parquet(s"$dir/tables/identification_001_duration.parquet").count() === 10L)
      // the descriptor, written after the jobs, must reference ONLY the
      // table that actually landed
      val root = new ObjectMapper().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/datapackage.json")))
      val described = root.get("resources").elements()
      val names = Iterator.continually(described)
        .takeWhile(_.hasNext).map(_.next().get("name").asText()).toSet
      assert(names === Set("identification_001_duration"))
    } finally parsed.unpersist()
  }

  test("datapackage write timeout cancels in-flight jobs and writes no descriptor") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_timeout").toString
    val taxonomies = graft.sources.TaxonomyParser.parseArchive(
      s"$dataDir/ferc1-xbrl-taxonomies.zip")
    val schemas = graft.plans.FactTableSchema.fromTaxonomies(taxonomies)
      .filter(t => requested.contains(t.name))
    val parsed = graft.sources.FilingSource.fromZip(spark, s"$dataDir/ferc1-xbrl-2021.zip")
    try {
      intercept[java.util.concurrent.TimeoutException] {
        writeDatapackage(
          taxonomies, schemas, parsed, dir,
          timeout = scala.concurrent.duration.Duration(1, "ms"),
          buildTable = (t, st) => {
            Thread.sleep(2000)
            graft.plans.FactTableBuilder.buildFromStore(t, st)
          })
      }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/datapackage.json")))
    } finally parsed.unpersist()
  }

  test("size-aware write parallelism: a table past targetRowsPerFile writes >1 file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_sized").toString
    val taxonomies = graft.sources.TaxonomyParser.parseArchive(
      s"$dataDir/ferc1-xbrl-taxonomies.zip")
    val schemas = graft.plans.FactTableSchema.fromTaxonomies(taxonomies)
      .filter(_.name == "identification_001_duration")
    val parsed = graft.sources.FilingSource.fromZip(spark, s"$dataDir/ferc1-xbrl-2021.zip")
    try {
      // 10 rows with a 4-row file target: the same mechanism that keeps
      // small tables at one file splits a "mega" table (relative to the
      // target) into ceil(10/4)=3 files without any manual lever
      val summary = writeDatapackage(
        taxonomies, schemas, parsed, dir, targetRowsPerFile = 4L).collect()
      assert(summary.head.getLong(1) === 10L)
      val files = partFiles(s"$dir/tables/identification_001_duration.parquet")
      assert(files.length > 1, files.map(_.getName).mkString(","))
      assert(spark.read.parquet(s"$dir/tables/identification_001_duration.parquet").count() === 10L)
    } finally parsed.unpersist()
  }

  test("jdbc sink loads into embedded Derby") {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    XbrlSinks.writeJdbc(
      out.tables.view.filterKeys(_ == "identification_001_duration").toMap, url)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "identification_001_duration").load()
    assert(back.count() === 10L)
  }

  test("datapackage descriptor mirrors the reference structure") {
    val json = XbrlSinks.datapackageJson(out.schemas, "db_uri", formNumber = 1)
    val root = new ObjectMapper().readTree(json)
    assert(root.get("profile").asText === "tabular-data-package")
    assert(root.get("name").asText === "ferc1-extracted-xbrl")
    val resources = root.get("resources")
    assert(resources.size === 2)
    val ident = (0 until resources.size).map(resources.get)
      .find(_.get("name").asText == "identification_001_duration").get
    assert(ident.get("dialect").get("table").asText === "identification_001_duration")
    val fields = ident.get("schema").get("fields")
    val names = (0 until fields.size).map(fields.get(_).get("name").asText)
    assert(names.take(5) === Seq("entity_id", "filing_name", "publication_time", "start_date", "end_date"))
    val pk = ident.get("schema").get("primary_key")
    assert((0 until pk.size).map(pk.get(_).asText) === names.take(5))
    assert(fields.get(0).get("format").asText === "default")
  }

  test("CLI main writes the reference output layout") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_cli").toString
    val logfile = s"$dir/run.log"
    Main.main(Array(
      s"$dataDir/ferc1-xbrl-2021.zip",
      "--taxonomy", s"$dataDir/ferc1-xbrl-taxonomies.zip",
      "--output-dir", dir,
      "--form-number", "1",
      "--requested-tables", requested.mkString(","),
      // the reference's logging/batching flags parse and act (loglevel
      // accepts the PYTHON name; batch-size is subsumed by partitioning)
      "--loglevel", "WARNING", "--logfile", logfile, "--batch-size", "4"))
    val logged = Files.readString(Paths.get(logfile))
    assert(logged.contains("graft.Main logging to"), logged.take(500))
    assert(logged.contains("--batch-size 4 accepted"), logged.take(500))
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl_datapackage.json")))
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl_taxonomy_metadata.json")))
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
    // the on-disk layout must agree with the descriptor's `path`
    requested.foreach(t => assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl/$t.parquet"))))
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
    val res = root.get("resources")
    assert(res.size === 2)
    (0 until res.size).map(res.get).foreach { r =>
      assert(r.get("format").asText === "parquet")
      assert(r.get("mediatype").asText === "application/vnd.apache.parquet")
      assert(!r.has("dialect"))
      assert(r.get("path").asText === r.get("name").asText + ".parquet")
    }
    // the parquet tables round-trip through Spark
    val back = spark.read.parquet(s"$dir/ferc1_xbrl/identification_001_duration.parquet")
    assert(back.count() === 10L)
  }

  test("descriptor validation rejects corrupted schemas") {
    // healthy schemas (with the matching table set) pass
    XbrlSinks.validateSchemas(out.schemas, Some(out.tables.keySet))
    val base = out.schemas.head
    // primary key referencing a dropped field
    val noPkField = base.copy(fields = base.fields.filterNot(_.name == base.primaryKey.head))
    assertThrows[IllegalArgumentException](XbrlSinks.datapackageJson(Seq(noPkField), "db"))
    // duplicated field name
    val dupField = base.copy(fields = base.fields :+ base.fields.head)
    assertThrows[IllegalArgumentException](XbrlSinks.datapackageJson(Seq(dupField), "db"))
    // duplicated resource name
    assertThrows[IllegalArgumentException](XbrlSinks.datapackageJson(Seq(base, base), "db"))
    // resource set diverging from the extracted tables
    assertThrows[IllegalArgumentException](
      XbrlSinks.datapackageJson(out.schemas, "db", tableNames = Some(out.tables.keySet + "ghost_table")))
  }

  test("taxonomy metadata json carries references, calculations, balance") {
    val json = XbrlSinks.metadataJson(out.taxonomies)
    val root = new ObjectMapper().readTree(json)
    assert(root.has("identification_001_duration"))
    // find at least one concept with an Account reference and one with calculations
    val all = root.properties().iterator()
    var sawAccount = false
    var sawCalc = false
    var sawBalance = false
    while (all.hasNext) {
      val entries = all.next().getValue
      (0 until entries.size).map(entries.get).foreach { c =>
        if (c.get("references").has("Account")) sawAccount = true
        if (c.get("calculations").size > 0) sawCalc = true
        if (!c.get("balance").isNull) sawBalance = true
      }
    }
    assert(sawAccount && sawCalc && sawBalance)
  }
}
