package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.FilePartition

/** The one partition gate (optimization guide §2.5, "input skew: one
  * huge unsplittable file"): when a frame is narrower than the
  * machine's parallelism — the single-split fixture scans, and any
  * narrow pipeline fused onto them — round-robin it wide so the
  * CPU-dense work that Catalyst fuses downstream (tokenize, shingle,
  * hash, explode, vector math) uses every core instead of one or two.
  *
  * The width is read from the physical plan and nothing executes:
  * under AQE that is the initial plan, so an exchange counts its
  * planned partitions, not AQE's coalesced count. File scans report
  * `UnknownPartitioning(0)`, so the read walks to the leaves: a
  * checkpoint's RDD gives its partition count, and a file scan's input
  * RDD gives Spark's real file packing (by file listing), capped per
  * file at ceil(bytes / maxPartitionBytes) — Spark cuts a one-row-group
  * file above openCostInBytes × cores into cores byte ranges, and only
  * one of them holds rows. A frame whose width only a run could tell
  * passes through untouched.
  *
  * Scale contract: on a real tier the scan already carries ≥ cores
  * partitions and the frame comes back as the SAME object — the
  * exchange never exists at scale. When it fires on a file scan, the
  * re-shuffled bytes are bounded by construction (width < cores ⇒
  * table < cores × maxPartitionBytes). Apply it where per-row work
  * downstream dominates a one-pass re-shuffle of the rows (text,
  * vector and edge pipelines), not blanket: a scan-dominated aggregate
  * would pay serialization for nothing. And apply it where the spread frame is
  * materialized ONCE (feeding a [[Checkpoints.truncate]], or a single
  * consumer): round-14 measured the multi-consumer case re-running the
  * exchange per consumer (the reverted q142/q154 table-level spreads).
  */
object Spread {
  /** Round-robin `df` to defaultParallelism iff its plan has fewer
    * partitions; identity otherwise (the at-scale path). */
  def wide(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (width(df).exists(_ < par)) df.repartition(par) else df
  }

  /** `df`'s partition count as planned, or None where only a run
    * could tell. Executes nothing. */
  private[graft] def width(df: DataFrame): Option[Int] =
    planned(df.queryExecution.executedPlan)

  private def planned(plan: SparkPlan): Option[Int] = plan match {
    case a: AdaptiveSparkPlanExec => planned(a.initialPlan)
    case s: FileSourceScanExec =>
      // a dynamic-pruning filter resolves only when its subquery runs
      if (s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) None
      else {
        val parts = s.inputRDD.partitions
        val maxBytes = s.relation.sparkSession.sessionState.conf.filesMaxPartitionBytes
        val rowGroups = parts.iterator
          .flatMap { case p: FilePartition => p.files; case _ => Nil }
          .map(f => f.filePath -> f.fileSize).toMap.values
          .map(bytes => math.max(1L, (bytes + maxBytes - 1) / maxBytes)).sum
        Some(math.min(parts.length.toLong, rowGroups).toInt)
      }
    case r: RDDScanExec => Some(r.rdd.partitions.length)
    case l: LocalTableScanExec => Some(l.inputRDD.partitions.length)
    case p if p.outputPartitioning != UnknownPartitioning(0) =>
      Some(p.outputPartitioning.numPartitions)
    case u: UnionExec =>
      val widths = u.children.map(planned)
      Option.when(widths.forall(_.nonEmpty))(widths.flatten.sum)
    case p => p.children match {
      case Seq(child) => planned(child)
      case _ => None
    }
  }
}
