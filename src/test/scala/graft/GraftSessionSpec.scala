package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory, one concurrency helper, one partition gate:
  * the suites' session carries the measurement confs, no main builds
  * its own session or runs branches on the global execution context,
  * and no scale gate counts partitions by running a plan. */
class GraftSessionSpec extends SparkSpec {

  test("the shared session carries GraftSession's confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8000")
    assert(spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    val found = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(found.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    found
  }
  private def uses(p: Path, needle: String) = Files.readString(p).contains(needle)

  test("src/main builds sessions only in GraftSession and never uses the global EC") {
    val builders = sources.filter(uses(_, "SparkSession.builder()"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(builders.isEmpty, s"hand-rolled sessions in: ${builders.mkString(", ")}")
    val globalEc = sources.filter(uses(_, "ExecutionContext.Implicits.global"))
    assert(globalEc.isEmpty, s"global execution context in: ${globalEc.mkString(", ")}")
  }

  test("src/main gates on partition counts read from plans, never from an executed RDD") {
    // `df.rdd.getNumPartitions` runs a job whenever the frame holds an
    // exchange; operators.Spread reads the width from the physical plan
    val counted = sources.filter(uses(_, "getNumPartitions"))
    assert(counted.isEmpty, s"getNumPartitions in: ${counted.mkString(", ")}")
  }
}
