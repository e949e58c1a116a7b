package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sinks.XbrlSinks
import graft.sources.{FilingSource, TaxonomyParser}
import graft.xbrl.TableSchema

/** Top-level extraction pipeline — the engine's analog of the
  * reference's `xbrl.extract` (xbrl.py:28-81): filings + taxonomy
  * archive in, lazily-planned output tables + coverage stats out, with
  * optional table filtering and instance-name pattern matching.
  *
  * Nothing materializes until a sink runs each table's plan; every
  * table is a map-only projection of ONE persisted grouped fact store,
  * so writing all of them costs one corpus aggregation.
  */
object XbrlExtract {

  /** `store` is the persisted grouped fact store every table in
    * `tables` projects from (what [[XbrlSinks.writeTables]] writes
    * from). `release()` unpersists it and the parsed filings backing
    * it — call it once every output table is materialized (long-lived
    * callers; a CLI process exit releases implicitly).
    */
  case class ExtractOutput(
      taxonomies: Seq[graft.xbrl.Taxonomy],
      schemas: Seq[TableSchema],
      tables: Map[String, DataFrame],
      stats: DataFrame,
      store: DataFrame,
      release: () => Unit = () => ())

  /** Each element of `filings` may be a zip archive, a directory of
    * `.xbrl` files, or a single `.xbrl` filing — dispatched per input
    * like the reference CLI's positional arguments (cli.py:28-32).
    */
  def extract(
      spark: SparkSession,
      filings: Seq[String],
      taxonomyZip: String,
      formNumber: Int = 1,
      requestedTables: Option[Set[String]] = None,
      instancePattern: Option[String] = None): ExtractOutput = {

    val taxonomies = TaxonomyParser.parseArchive(taxonomyZip)
    val allSchemas = FactTableSchema.fromTaxonomies(taxonomies)
    val schemas = requestedTables match {
      case Some(want) => allSchemas.filter(s => want.contains(s.name))
      case None       => allSchemas
    }

    val parsed = filings.map(FilingSource.fromPath(spark, _))
    def pattern(df: DataFrame): DataFrame =
      instancePattern.fold(df)(p => df.filter(col("filing_name").rlike(p)))
    val facts = pattern(parsed.map(_.facts.toDF()).reduce(_ union _))
      .as[graft.xbrl.RawFact](org.apache.spark.sql.Encoders.product[graft.xbrl.RawFact])
    val contexts = pattern(parsed.map(_.contexts.toDF()).reduce(_ union _))
      .as[graft.xbrl.XbrlContext](org.apache.spark.sql.Encoders.product[graft.xbrl.XbrlContext])
    val meta = pattern(parsed.map(_.meta).reduce(_ unionByName _))

    // every table is a map-only projection of ONE shared grouped store
    // (see FactTableBuilder.groupedStore): materializing all N tables
    // costs one corpus aggregation, not N. persist() is lazy — nothing
    // runs until a table does.
    val store = FactTableBuilder.groupedStore(schemas, facts, contexts, meta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tables = schemas.map(s =>
      s.name -> FactTableBuilder.buildFromStore(s, store)).toMap
    val stats = FactTableBuilder.stats(spark, schemas, facts, contexts, meta)
    ExtractOutput(taxonomies, schemas, tables, stats, store,
      release = () => {
        store.unpersist(blocking = false)
        parsed.foreach(_.unpersist())
      })
  }

  /** Extract + write everything the reference CLI writes (cli.py:101-130):
    * parquet tables under `<outDir>/tables/`, then datapackage.json and
    * the taxonomy metadata JSON. The descriptor lists only the tables
    * that landed; if any table failed, the call then throws naming
    * each (see [[XbrlSinks.writeTables]] for the partial-output rule).
    */
  def extractToParquet(
      spark: SparkSession,
      filings: Seq[String],
      taxonomyZip: String,
      outDir: String,
      formNumber: Int = 1): ExtractOutput = {
    val out = extract(spark, filings, taxonomyZip, formNumber)
    val tablesDir = s"$outDir/tables"
    val summary = XbrlSinks.writeTables(out.schemas, out.store, tablesDir).collect().toSeq
    XbrlSinks.writeString(s"$outDir/datapackage.json",
      XbrlSinks.datapackageJson(XbrlSinks.writtenSchemas(out.schemas, summary),
        tablesDir, formNumber))
    XbrlSinks.writeString(s"$outDir/taxonomy_metadata.json",
      XbrlSinks.metadataJson(out.taxonomies))
    XbrlSinks.requireAllWritten(summary, tablesDir)
    out
  }
}
