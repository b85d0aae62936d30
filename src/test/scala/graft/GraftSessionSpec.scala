package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory and one concurrency helper: the suites' session
  * carries the measurement confs, and no main builds its own session
  * or runs branches on the global execution context. */
class GraftSessionSpec extends SparkSpec {

  test("the shared session carries GraftSession's confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8000")
    assert(spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("src/main builds sessions only in GraftSession and never uses the global EC") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def uses(p: Path, needle: String) = Files.readString(p).contains(needle)
    val builders = sources.filter(uses(_, "SparkSession.builder()"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(builders.isEmpty, s"hand-rolled sessions in: ${builders.mkString(", ")}")
    val globalEc = sources.filter(uses(_, "ExecutionContext.Implicits.global"))
    assert(globalEc.isEmpty, s"global execution context in: ${globalEc.mkString(", ")}")
  }
}
