package graft.sinks

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** The Spark-internal half of [[XbrlSinks.writeTables]]'s batched path:
  * one task writes one table's parquet file through the same
  * ParquetWriteSupport/ParquetOutputWriter machinery (same schema
  * conversion, codec and rebase/legacy conf) the SQL write command
  * uses. Kept in one file so a Spark upgrade touches one place.
  */
private[graft] object ParquetShim {

  /** One single-file table of a write run: its name, its
    * `<name>.parquet` directory, the built frame's schema and the
    * summary's column count.
    */
  case class TableFile(name: String, dir: String, schema: StructType, nCols: Int)

  /** Java-serializable Hadoop conf carrier (the spark-internal
    * SerializableConfiguration is private[spark]; this is the same
    * 10-line idiom).
    */
  class ConfBox(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }

  /** Hadoop conf for the batched parquet writes: the session's Hadoop
    * conf plus the same entries ParquetFileFormat.prepareWrite sets for
    * a SQL parquet write command (write-support class, legacy-format /
    * timestamp-type / rebase-mode keys, codec) — the per-TABLE schema
    * is set on a task-local copy, since it differs per table.
    */
  def writeConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    def sql(key: String, default: String): String =
      try spark.conf.get(key) catch { case NonFatal(_) => default }
    conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
    conf.set("spark.sql.parquet.writeLegacyFormat",
      sql("spark.sql.parquet.writeLegacyFormat", "false"))
    conf.set("spark.sql.parquet.outputTimestampType",
      sql("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite",
      sql("spark.sql.parquet.datetimeRebaseModeInWrite", "EXCEPTION"))
    conf.set("spark.sql.parquet.int96RebaseModeInWrite",
      sql("spark.sql.parquet.int96RebaseModeInWrite", "EXCEPTION"))
    conf.set("spark.sql.parquet.fieldId.write.enabled",
      sql("spark.sql.parquet.fieldId.write.enabled", "true"))
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      sql("spark.sql.parquet.variant.annotateLogicalType.enabled", "false"))
    val codecName = sql("spark.sql.parquet.compression.codec", "snappy")
      .toUpperCase(java.util.Locale.ROOT) match {
      case "NONE" | "UNCOMPRESSED" => "UNCOMPRESSED"
      case c => c
    }
    conf.set("parquet.compression", codecName)
    conf
  }

  /** Where a write run's task attempts stage their files: beside the
    * table directories, under a `_`-prefixed name readers skip.
    */
  def stagingDir(tablesDir: String, runId: String): Path =
    new Path(s"$tablesDir/_temporary/$runId")

  /** One batched-write task: stream this table's rows into one parquet
    * file, counting rows as they land (the observe-exact count,
    * task-side). Safe under task retry and speculation: the rows go to
    * a file under this attempt's own staging directory, which is then
    * renamed into the table directory under a name fixed for the
    * (write run, table) — a failed attempt leaves the table's previous
    * contents in place and no partial file, and a duplicate attempt
    * replaces the file instead of adding a second. Once the new file is
    * in place, everything else in the table directory (an earlier run's
    * files) is removed and `_SUCCESS` is written. A failure reports as
    * this table's error row, so the batch's other tables still land.
    */
  def writeOneTable(
      table: TableFile,
      runId: String,
      baseConf: Configuration,
      attempt: Long,
      rows: Iterator[InternalRow]): XbrlSinks.TableWrite = {
    val conf = new Configuration(baseConf)
    val dir = new Path(table.dir)
    val staging = new Path(stagingDir(dir.getParent.toString, runId), s"attempt-$attempt")
    try {
      ParquetWriteSupport.setSchema(table.schema, conf)
      val fs = dir.getFileSystem(conf)
      val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName.valueOf(
        conf.get("parquet.compression", "SNAPPY"))
      val fileName = s"part-00000-$runId.c000${codec.getExtension}.parquet"
      val staged = new Path(staging, fileName)
      val tid = new org.apache.hadoop.mapreduce.TaskAttemptID(
        new org.apache.hadoop.mapreduce.TaskID(
          new org.apache.hadoop.mapreduce.JobID("graft_write", 0),
          org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0)
      val writer = new ParquetOutputWriter(staged.toString,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf, tid))
      var n = 0L
      try { while (rows.hasNext) { writer.write(rows.next()); n += 1 } }
      finally writer.close()
      val file = new Path(dir, fileName)
      if (!fs.mkdirs(dir)) throw new java.io.IOException(s"cannot create $dir")
      fs.delete(file, false)
      if (!fs.rename(staged, file)) throw new java.io.IOException(s"cannot rename $staged to $file")
      fs.listStatus(dir).map(_.getPath).filter(_.getName != fileName)
        .foreach(fs.delete(_, true))
      fs.create(new Path(dir, "_SUCCESS"), true).close()
      (table.name, Some(n), table.nCols, None)
    } catch {
      case NonFatal(e) =>
        (table.name, None, table.nCols, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally {
      try staging.getFileSystem(conf).delete(staging, true) catch { case NonFatal(_) => () }
    }
  }
}
