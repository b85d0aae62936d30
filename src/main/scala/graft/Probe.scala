package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Plan probe: `runMain graft.Probe [--out DIR] [--runs N] [query ...]`
  * over SPARK_GRAFT_SF_DIR, covering every registered query when none
  * are named, in one JVM.
  *
  * For each query it prints the formatted physical plan (the
  * pre-execution, AQE-initial shape), or writes it to `DIR/<query>.txt`,
  * and a one-line exchange and join census. With `--runs N` it then
  * times N runs, each building the query and consuming it through
  * [[Bench.consume]]. Construction stays inside the timed region:
  * iterative operators run eager checkpoint jobs while the query is
  * built, and Bench pays for them. Timing only the consumption read
  * q191 at 1.0 s against its true 4.5 s.
  */
object Probe {
  private val Joins = Seq("BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin")

  def main(args: Array[String]): Unit = {
    def parse(a: List[String], out: Option[String], runs: Int,
              names: List[String]): (Option[String], Int, List[String]) = a match {
      case "--out" :: dir :: rest => parse(rest, Some(dir), runs, names)
      case "--runs" :: n :: rest => parse(rest, out, n.toInt, names)
      case name :: rest => parse(rest, out, runs, name :: names)
      case Nil => (out, runs, names.reverse)
    }
    val (out, runs, named) = parse(args.toList, None, 0, Nil)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a data directory"))
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    out.foreach(dir => Files.createDirectories(Paths.get(dir)))
    names.foreach { name =>
      try {
        val build = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
        val plan = build(spark, sfDir).queryExecution.explainString(FormattedMode)
        out match {
          case Some(dir) => Files.writeString(Paths.get(dir, s"$name.txt"), plan)
          case None => println(plan)
        }
        val census = s"exchanges=${"Exchange".r.findAllIn(plan).length}" +:
          Joins.map(j => s"$j=${j.r.findAllIn(plan).length}").filterNot(_.endsWith("=0"))
        println(s"[probe] $name ${census.mkString(" ")}")
        (1 to runs).foreach { i =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          Bench.consume(build(spark, sfDir))
          println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      } catch {
        case e: Throwable =>
          println(s"[probe] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
