package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.{Bench, Pipeline, SparkEntry}
import graft.queries.QueryDef
import graft.sources.LakeZones
import perfbench.Trace.Op

/** One landing batch, as the generator's manifest describes it. */
final case class Batch(dir: String, ingestDate: LocalDate, orderLines: Long,
                       sdaexpCents: BigInt, changed: Long, added: Long, bytes: Long) {
  def landingRows: Long = orderLines + changed + added
}

object Batch {
  def manifest(landing: Path): Seq[Batch] =
    new ObjectMapper().readTree(landing.resolve("manifest.json").toFile)
      .get("batches").elements().asScala.map { b =>
        Batch(b.get("dir").asText, LocalDate.parse(b.get("ingest_date").asText),
          b.get("order_lines").asLong, BigInt(b.get("sdaexp_cents").asText),
          b.get("changed_customers").asLong, b.get("new_customers").asLong,
          b.get("bytes").asLong)
      }.toSeq
}

/** What a run measured. Timed ops that failed are counted in
  * `failures`, not in `opSeconds`. */
final class Outcome {
  var setupS = 0.0
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  val opSeconds = mutable.ArrayBuffer.empty[Double]
  val opNames = mutable.ArrayBuffer.empty[String]
  val passSeconds = mutable.ArrayBuffer.empty[Double]
  var rows = 0L
  var lakeBytes = 0L
  var inputBytes = 0L
  val detail = mutable.LinkedHashMap.empty[String, Any]
}

/** The workloads. Each drives the program only through
  * `Pipeline.run`, `SparkEntry.queries` and `Bench.consume`, and
  * measures a fixed number of `units` (ops or passes), so every run
  * of a workload times the same work. */
final class Workloads(spark: SparkSession, work: Path, units: Int,
                      trace: Option[Trace], sessionS: Double) {
  val out = new Outcome
  private var nextOp = 0

  /** Run `body` as one op and return its seconds. With a trace, the
    * op is recorded and the listeners are synced after the clock stops. */
  private def timed(name: String, attrs: Map[String, Double] = Map.empty)(body: Op => Unit): Double = {
    val o = Op(nextOp, name, attrs)
    nextOp += 1
    trace.foreach(_.begin(o))
    val t0 = System.nanoTime()
    try body(o) finally trace.foreach(_.end(o))
    (System.nanoTime() - t0) / 1e9
  }

  /** Count one attempted op; record (and swallow) its failure. */
  private def attempt(name: String)(body: => Unit): Boolean = {
    out.attempted += 1
    try { body; true } catch {
      case e: Throwable =>
        out.failures += ((name, e.getClass.getName, String.valueOf(e.getMessage).take(300)))
        false
    }
  }

  private def load(lake: Path, landing: Path, b: Batch): Unit = {
    val dir = landing.resolve(b.dir).toString
    Pipeline.run(spark, LakeZones(lake.toString), dir, s"$dir/source_config.json",
      b.ingestDate, java.sql.Timestamp.valueOf(b.ingestDate.atStartOfDay()))
  }

  private def expected(bs: Seq[Batch]) = Checks.Expected(bs.map(_.orderLines).sum,
    bs.map(_.sdaexpCents).sum, bs.map(_.added).sum, bs.map(_.changed).sum)

  /** Files under `root` with their sizes and modification times. */
  private def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }

  private def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size }.sum

  private def versions(b: Batch) = Map("versions" -> (b.changed + b.added).toDouble)

  /** Nightly increments: the set-up bulk-loads the initial batch into
    * an empty lake (in a fresh driver, so cold); each op then loads the
    * next day's batch into the same, growing lake. */
  def dailyIncrements(landing: Path): Outcome = {
    val batches = Batch.manifest(landing)
    val lake = work.resolve("lake")
    attempt("bulk-load") {
      val s = timed("bulk-load", versions(batches.head) + ("bulk" -> 1.0)) { _ =>
        load(lake, landing, batches.head)
      }
      out.setupS = sessionS + s
      Checks.pipeline(spark, lake.toString, expected(batches.take(1)))
    }
    var day = 1
    while (day <= units && day < batches.size) {
      val b = batches(day)
      val name = s"day-$day"
      val before = files(lake)
      attempt(name) {
        val s = timed(name, versions(b))(_ => load(lake, landing, b))
        Checks.pipeline(spark, lake.toString, expected(batches.take(day + 1)))
        out.opSeconds += s
        out.opNames += name
        out.passSeconds += s
        out.rows += b.landingRows
        out.lakeBytes += written(before, files(lake))
        out.inputBytes += b.bytes
      }
      day += 1
    }
    out.detail("days_loaded") = day - 1
    out
  }

  /** Query registry: the panel's queries in seed-shuffled passes. Each
    * op builds one query (`build`) and consumes it (`consume`). */
  def registry(sfDir: String, expected: JsonNode, seed: Long): Outcome = {
    val panel = expected.get("queries").fieldNames().asScala.toSeq.sorted
    val fns = SparkEntry.queries
    val t0 = System.nanoTime()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach(t => QueryDef.table(spark, sfDir, t).count())
    QueryDef.eventsTable(spark, sfDir).count()
    // two untimed passes: after one, the driver's JIT is still warming
    for (_ <- 1 to 2; q <- panel) {
      attempt(s"warmup:$q") { Bench.consume(fns(q)(spark, sfDir)) }
      spark.catalog.clearCache()
    }
    out.setupS = sessionS + (System.nanoTime() - t0) / 1e9
    val resultRows = mutable.Map.empty[String, Long]
    panel.foreach { q =>
      attempt(s"check:$q") {
        val (rows, hash) = Checks.fingerprint(fns(q)(spark, sfDir))
        val want = expected.get("queries").get(q)
        resultRows(q) = rows
        if (rows != want.get("rows").asLong || hash != want.get("hash").asText)
          throw new Checks.CheckFailed(s"$q: got $rows rows hash $hash, want " +
            s"${want.get("rows").asLong} rows hash ${want.get("hash").asText}")
      }
      spark.catalog.clearCache()
    }
    var pass = 0
    while (pass < units) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(panel)
      var passS = 0.0
      var complete = true
      order.foreach { q =>
        val ok = attempt(q) {
          val s = timed(q, Map("pass" -> pass.toDouble)) { o =>
            val df = o.span("build")(fns(q)(spark, sfDir))
            o.span("consume")(Bench.consume(df))
          }
          out.opSeconds += s
          out.opNames += q
          out.rows += resultRows.getOrElse(q, 0L)
          passS += s
        }
        complete &&= ok
        spark.catalog.clearCache()
      }
      if (complete) out.passSeconds += passS
      pass += 1
    }
    out.detail("panel") = panel
    out.detail("passes") = pass
    out
  }

  /** Write the expected row counts and hashes of `queries` (the pinned
    * values the registry workload checks against). */
  def pin(sfDir: String, queries: Seq[String], sf: String, dest: Path): Unit = {
    val fns = SparkEntry.queries
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("sf", sf)
    val qs = root.putObject("queries")
    queries.sorted.foreach { q =>
      val (rows, hash) = Checks.fingerprint(fns(q)(spark, sfDir))
      qs.putObject(q).put("rows", rows).put("hash", hash)
      spark.catalog.clearCache()
    }
    Files.writeString(dest, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
  }
}
