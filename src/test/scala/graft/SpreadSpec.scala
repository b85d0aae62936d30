package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Spread

/** Contract of the frame-level scan spread
  * ([[graft.operators.Spread.wide]]): widen narrow frames to the
  * machine, be an exact identity (same object — the no-exchange
  * guarantee) at real-tier partition counts, never change the row
  * multiset either way, and decide from the plan without running a
  * job. The multi-file scan case below is the at-scale identity
  * evidence: once a scan carries at least as many splits as cores, the
  * exchange structurally does not exist. */
class SpreadSpec extends SparkSpec {

  test("narrow frames widen to defaultParallelism") {
    val par = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 1000).coalesce(1).toDF("id")
    assert(narrow.rdd.getNumPartitions < par)
    val wide = Spread.wide(narrow)
    assert(wide.rdd.getNumPartitions == par)
  }

  test("frames already at or above the machine's width pass through untouched") {
    val par = spark.sparkContext.defaultParallelism
    val already = spark.range(0, 1000, 1, par).toDF("id")
    assert(Spread.wide(already) eq already)
    val wider = spark.range(0, 1000, 1, par + 3).toDF("id")
    assert(Spread.wide(wider) eq wider)
  }

  test("spreading preserves the row multiset exactly") {
    val df = spark.range(0, 5000).select(col("id"),
      (col("id") % 7).as("k"), md5(col("id").cast("string")).as("h"))
      .coalesce(1)
    val a = df.orderBy(col("id")).collect()
    val b = Spread.wide(df).orderBy(col("id")).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("Spread.wide over frames with exchanges runs no job") {
    val grouped = spark.range(0, 10000).groupBy((col("id") % 7).as("k")).count()
    val joined = spark.range(0, 10000).hint("merge")
      .join(spark.range(0, 10000).hint("merge"), "id")
    for (df <- Seq(grouped, joined)) {
      val (_, jobs) = jobsDuring(Spread.wide(df))
      assert(jobs.isEmpty, s"Spread.wide ran ${jobs.size} job(s) over\n${df.queryExecution.executedPlan}")
    }
  }

  test("the planned width equals the RDD partition count on every call-site shape") {
    val par = spark.sparkContext.defaultParallelism
    val dir = Files.createTempDirectory("graft_spread").toString
    spark.range(0, 3000).coalesce(1).write.parquet(s"$dir/single")
    spark.range(0, 6000, 1, 6).write.parquet(s"$dir/multi")
    val single = spark.read.parquet(s"$dir/single")
    val multi = spark.read.parquet(s"$dir/multi")
    val shapes = Seq[(String, DataFrame)](
      "single-file scan" -> single,
      "multi-file scan" -> multi,
      "filter over a scan" -> multi.filter(col("id") % 3 === 0),
      "union of scans" -> single.union(multi),
      "localCheckpoint" -> spark.range(0, 100, 1, 3).toDF().localCheckpoint(),
      "empty" -> single.filter(lit(false)))
    for ((shape, df) <- shapes) {
      val (width, jobs) = jobsDuring(Spread.width(df))
      assert(jobs.isEmpty, s"$shape: reading the width ran ${jobs.size} job(s)")
      assert(width.contains(df.rdd.getNumPartitions), s"$shape: planned $width")
    }
    // Spark packs small files together: six files read as fewer
    // partitions, so a per-file count would over-estimate the width.
    assert(multi.inputFiles.length == 6)
    assert(multi.rdd.getNumPartitions < 6)
    assert(Spread.width(multi).exists(_ < par))
    assert(!(Spread.wide(multi) eq multi))
    // At-scale shape: once the packing yields at least one split per
    // core, the frame passes through as the same object.
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val split = spark.read.parquet(s"$dir/multi")
      assert(Spread.width(split).contains(split.rdd.getNumPartitions))
      assert(split.rdd.getNumPartitions >= par)
      assert(Spread.wide(split) eq split)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("a one-row-group file cut into cores byte ranges still spreads") {
    val par = spark.sparkContext.defaultParallelism
    val dir = Files.createTempDirectory("graft_spread_rg").toString + "/t"
    spark.range(0, 20000).select(col("id"), md5(col("id").cast("string")).as("h"))
      .coalesce(1).write.parquet(dir)
    val prev = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      // a file above openCostInBytes × cores splits into ~cores ranges,
      // of which only the first holds the row group
      spark.conf.set("spark.sql.files.openCostInBytes", "1")
      val df = spark.read.parquet(dir)
      assert(df.inputFiles.length == 1)
      assert(df.rdd.getNumPartitions >= par)
      assert(Spread.width(df).contains(1))
      val spread = Spread.wide(df)
      assert(!(spread eq df))
      assert(spread.rdd.getNumPartitions == par)
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prev)
  }
}
