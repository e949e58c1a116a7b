package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, Main, SparkEntry}
import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sources.{FilingSource, TaxonomyParser}

/** One measured JVM of the benchmark. perfbench/run.py launches it
  * directly (no build tool in the path) and reads the JSON it writes.
  *
  *   graftbench.Harness <mode> --result <file.json> --cpus N [options]
  *
  * Modes:
  *  - `extract`: one cold `graft.Main.main` run, then one warm run in the
  *    same JVM, each into its own output directory.
  *  - `pipeline`: the layers' public calls in Main's order (taxonomy parse,
  *    schema derivation, filing parse plus a forcing count, grouped store
  *    plus a forcing count), then one `graft.Main.main` run.
  *  - `queries`: one cold pass over `--queries` through the noop sink;
  *    untimed warm-up passes, the first of which writes each result as
  *    parquet for the output check; then timed noop passes until they
  *    add up to `--seconds` (at least [[MinTimedPasses]]).
  *
  * `--listen 1` attaches the [[Tracer]]; every mode also runs without it,
  * which is how the tracing overhead is measured.
  */
object Harness {

  /** Untimed passes after the cold one, the first writing the results. */
  val WarmupPasses = 2
  val MinTimedPasses = 3

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val opt = argv.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val result = new java.util.LinkedHashMap[String, Object]()

    val t0 = System.nanoTime()
    val spark = GraftSession.create(opt("cpus"), opt.get("data-dir"))
    result.put("created_at_ns", Long.box(epochNanos()))
    result.put("create_s", Double.box((System.nanoTime() - t0) / 1e9))
    val tracer = if (opt.get("listen").contains("1")) Some(new Tracer(spark)) else None
    val span = new Spans(tracer)

    try {
      mode match {
        case "extract" =>
          val runs = (0 to 1).map { i =>
            val out = s"${opt("out")}/run$i"
            // a failing extract is reported through its missing output
            val t = System.nanoTime()
            val error =
              try { span("main")(runMain(opt, out)); null }
              catch { case scala.util.control.NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}" }
            Json.obj("out" -> out, "s" -> (System.nanoTime() - t) / 1e9, "error" -> error)
          }
          result.put("runs", Json.arr(runs))
        case "pipeline" => result.putAll(pipeline(spark, opt, span))
        case "queries" => result.putAll(queries(spark, opt, span, tracer))
      }
      if (!result.containsKey("trace")) tracer.foreach(t => result.put("trace", t.report()))
    } finally {
      result.put("peak_rss_mb", Double.box(peakRssMb()))
      Files.writeString(Paths.get(opt("result")), Json.write(result))
      spark.stop()
    }
  }

  private def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** VmHWM of this JVM: its peak resident set so far. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def runMain(opt: Map[String, String], out: String): Unit =
    Main.main(Array(opt("filings"), "--taxonomy", opt("taxonomy"),
      "--output-dir", out, "--cpus", opt("cpus")))

  private def pipeline(spark: SparkSession, opt: Map[String, String],
      span: Spans): java.util.Map[String, Object] = {
    val s = new java.util.LinkedHashMap[String, Object]()
    def time[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = span(name)(body)
      s.put(s"$name.s", Double.box((System.nanoTime() - t) / 1e9))
      r
    }
    val zip = opt("filings")
    val taxonomies = time("sources.taxonomy_parse")(TaxonomyParser.parseArchive(opt("taxonomy")))
    val schemas = time("plans.schema_derive")(FactTableSchema.fromTaxonomies(taxonomies))
    val (parsed, facts) = time("sources.filing_parse") {
      val p = FilingSource.fromPath(spark, zip)
      (p, p.facts.count())
    }
    val (store, storeRows) = time("plans.store_build") {
      val st = FactTableBuilder.groupedStore(schemas, parsed.facts, parsed.contexts, parsed.meta)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (st, st.count())
    }
    val cached = spark.sparkContext.getRDDStorageInfo
    s.put("sources.facts", Long.box(facts))
    s.put("sources.contexts", Long.box(parsed.contexts.count()))
    val filings = parsed.parsed.count()
    s.put("sources.filings", Long.box(filings))
    s.put("sources.skipped_filings", Long.box(FilingSource.listEntries(zip).size - filings))
    s.put("plans.tables", Int.box(schemas.size))
    s.put("plans.store_rows", Long.box(storeRows))
    s.put("plans.persisted_mem_bytes", Long.box(cached.map(_.memSize).sum))
    s.put("plans.persisted_disk_bytes", Long.box(cached.map(_.diskSize).sum))
    store.unpersist(blocking = true)
    parsed.unpersist()
    val out = s"${opt("out")}/run0"
    s.put("main.s", Double.box(timed(span("main")(runMain(opt, out)))))
    s.put("out", out)
    s
  }

  private def queries(spark: SparkSession, opt: Map[String, String],
      span: Spans, tracer: Option[Tracer]): java.util.Map[String, Object] = {
    val dir = opt("data-dir")
    val names = opt("queries").split(",").toSeq
    val errors = new java.util.LinkedHashMap[String, Object]()
    def noop(pass: String, q: String): Option[Double] =
      try Some(timed(span(s"$pass:$q") {
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      }))
      catch {
        case scala.util.control.NonFatal(e) =>
          errors.putIfAbsent(q, s"$pass: ${e.getClass.getName}: ${e.getMessage}".take(500))
          None
      }

    val cold = names.map(q => q -> noop("cold", q))

    // Untimed warm-up: the passes right after the cold one run up to 1.8x
    // the settled time while the JIT compiles, so timing them measures how
    // fast it got there. The first pass writes the results to check.
    val verifyDir = opt("verify-out")
    for (q <- names if !errors.containsKey(q)) {
      try span(s"warmup:$q") {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$verifyDir/$q")
      }
      catch {
        case scala.util.control.NonFatal(e) =>
          errors.put(q, s"verify: ${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    }
    for (_ <- 1 until WarmupPasses; q <- names) noop("warmup", q)

    val budget = opt("seconds").toDouble
    val passes = Vector.newBuilder[Seq[(String, Option[Double])]]
    var n = 0
    var timedS = 0.0
    while (n < MinTimedPasses || timedS < budget) {
      val pass = names.map(q => q -> noop("timed", q))
      passes += pass
      timedS += pass.flatMap(_._2).sum
      n += 1
    }
    val timedPasses = passes.result()
    val trace = tracer.map(_.report())
    val oracle = SparkEntry.oracleSql
    Json.obj(
      "cold" -> Json.objOf(cold.collect { case (q, Some(t)) => q -> Double.box(t) }),
      "timed" -> Json.objOf(names.map { q =>
        q -> Json.arr(timedPasses.flatMap(_.collect { case (`q`, Some(t)) => Double.box(t) }))
      }),
      "passes" -> n,
      "errors" -> errors,
      "oracle_sql" -> Json.objOf(names.flatMap(q => oracle.get(q).map(q -> _))),
      "trace" -> trace.orNull)
  }
}

/** Times nothing itself: routes a named region through the tracer when
  * one is attached, so traced and untraced runs execute the same calls.
  */
final class Spans(tracer: Option[Tracer]) {
  def apply[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
}

/** Minimal JSON writing through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def box(v: Any): Object = v match {
    case null => null
    case x: Int => Int.box(x)
    case x: Long => Long.box(x)
    case x: Double => Double.box(x)
    case x: Boolean => Boolean.box(x)
    case x: Object => x
  }

  def obj(kvs: (String, Any)*): java.util.Map[String, Object] = objOf(kvs)

  def objOf(kvs: Iterable[(String, Any)]): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => m.put(k, box(v)) }
    m
  }

  def arr(xs: Iterable[Any]): java.util.List[Object] =
    new java.util.ArrayList[Object](xs.map(box).toSeq.asJava)

  def write(v: Object): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
}
