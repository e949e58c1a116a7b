package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sinks.{ParquetShim, XbrlSinks}
import graft.xbrl.{RawFact, TableField, TableSchema, XbrlContext}

/** The parquet table writer on hand-built schemas and a synthetic
  * grouped store — no archive needed: partial output when a table
  * fails, replace-not-append on rewrite, retry-safe task writes, and the
  * CLI's descriptors listing only the tables that landed.
  */
class XbrlWriterSpec extends SparkSpec {
  import spark.implicits._

  private val instantT = TableSchema("a_instant", "instant",
    FactTableSchema.InstantPk :+ TableField("v", "V", "number", ""),
    FactTableSchema.InstantPk.map(_.name))
  private val durationT = TableSchema("b_duration", "duration",
    FactTableSchema.DurationPk :+ TableField("w", "W", "number", ""),
    FactTableSchema.DurationPk.map(_.name))
  private val schemas = Seq(instantT, durationT)

  /** `n` instant contexts with a `v` fact each, one duration `w` fact. */
  private def store(n: Int): DataFrame = {
    val facts = (1 to n).map(i => RawFact("f1", s"i$i", "v", s"$i", instant = true)) :+
      RawFact("f1", "d1", "w", "7", instant = false)
    val contexts = (1 to n).map(i =>
      XbrlContext("f1", s"i$i", "e1", null, f"2021-01-$i%02d", instant = true, Map.empty)) :+
      XbrlContext("f1", "d1", "e1", "2021-01-01", "2021-12-31", instant = false, Map.empty)
    val meta = Seq(("f1", new java.sql.Timestamp(0L))).toDF("filing_name", "publication_time")
    FactTableBuilder.groupedStore(schemas, facts.toDS(), contexts.toDS(), meta)
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Visible entries of a directory (what a reader or a listing sees). */
  private def entries(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filterNot(_.startsWith("."))

  private def partFiles(dir: String): Set[String] =
    entries(dir).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  private def summaryOf(df: DataFrame): Map[String, (Option[Long], Option[String])] =
    df.collect().map(r => r.getString(0) ->
      ((if (r.isNullAt(1)) None else Some(r.getLong(1))), Option(r.getString(3)))).toMap

  test("a table whose rows fail mid-write reports its error and leaves no file; the others land") {
    val dir = tmp("graft_writer_contained")
    val summary = summaryOf(XbrlSinks.writeTables(schemas, store(3), dir,
      buildTable = (t, st) => {
        val df = FactTableBuilder.buildFromStore(t, st)
        if (t == instantT) df.withColumn("v", col("v") + raise_error(lit("injected row failure")).cast("double"))
        else df
      }))
    assert(summary(instantT.name)._1.isEmpty)
    assert(summary(instantT.name)._2.exists(_.contains("injected row failure")), summary)
    assert(partFiles(s"$dir/${instantT.name}.parquet").isEmpty)
    assert(summary(durationT.name) === ((Some(1L), None)))
    assert(spark.read.parquet(s"$dir/${durationT.name}.parquet").count() === 1L)
    // no staging directory survives the run
    assert(entries(dir) === Set(s"${durationT.name}.parquet"))
  }

  test("rewriting a table replaces its file: one part file plus _SUCCESS, the second run's rows") {
    val dir = tmp("graft_writer_rewrite")
    assert(summaryOf(XbrlSinks.writeTables(schemas, store(2), dir))(instantT.name)._1 === Some(2L))
    assert(summaryOf(XbrlSinks.writeTables(schemas, store(3), dir))(instantT.name)._1 === Some(3L))
    val tableDir = s"$dir/${instantT.name}.parquet"
    assert(partFiles(tableDir).size === 1, entries(tableDir))
    assert(entries(tableDir) === partFiles(tableDir) + "_SUCCESS")
    assert(spark.read.parquet(tableDir).count() === 3L)
  }

  test("task writes are retry-safe: a duplicate attempt replaces, a failed one keeps what was there") {
    val dir = tmp("graft_writer_attempts")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val rows = spark.range(3).queryExecution.toRdd.map(_.copy()).collect()
    val table = ParquetShim.TableFile("t", s"$dir/t.parquet", schema, 1)
    val conf = ParquetShim.writeConf(spark)
    assert(ParquetShim.writeOneTable(table, "run1", conf, 1L, rows.iterator) === (("t", Some(3L), 1, None)))
    // a speculative twin of the same (run, table) lands under the same name
    assert(ParquetShim.writeOneTable(table, "run1", conf, 2L, rows.take(2).iterator)._2 === Some(2L))
    assert(partFiles(table.dir).size === 1)
    assert(spark.read.parquet(table.dir).count() === 2L)
    // a failing attempt reports its error and leaves the table as it was
    val failing = rows.iterator ++ Iterator.continually[org.apache.spark.sql.catalyst.InternalRow](
      throw new RuntimeException("attempt died"))
    val failed = ParquetShim.writeOneTable(table, "run2", conf, 3L, failing)
    assert(failed._2.isEmpty && failed._4.exists(_.contains("attempt died")), failed)
    assert(partFiles(table.dir).size === 1)
    assert(spark.read.parquet(table.dir).count() === 2L)
    assert(entries(s"$dir/_temporary/run2").isEmpty)
  }

  test("the CLI's descriptors list only the tables written, then the run fails naming the rest") {
    val dir = tmp("graft_writer_cli")
    // a file squatting on one table's output path fails only that table
    Files.createDirectories(Paths.get(s"$dir/ferc1_xbrl"))
    Files.writeString(Paths.get(s"$dir/ferc1_xbrl/${durationT.name}.parquet"), "not a directory")
    val out = XbrlExtract.ExtractOutput(Nil, schemas, Map.empty, spark.emptyDataFrame, store(2))
    val e = intercept[IllegalStateException](Main.writeOutputs(out, dir, 1, None))
    assert(e.getMessage.contains(durationT.name) && !e.getMessage.contains(instantT.name),
      e.getMessage)
    assert(spark.read.parquet(s"$dir/ferc1_xbrl/${instantT.name}.parquet").count() === 2L)
    Seq("ferc1_xbrl_datapackage.json", "ferc1_xbrl/datapackage.json").foreach { rel =>
      val resources = new ObjectMapper().readTree(
        Files.readString(Paths.get(s"$dir/$rel"))).get("resources")
      assert((0 until resources.size).map(resources.get(_).get("name").asText) ===
        Seq(instantT.name), rel)
    }
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl_taxonomy_metadata.json")))
  }
}
