package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Scd2

/** C3 SCD2 merge: the reference's scenario matrix
  * (`README.md:198-216`, `docs/technical_report.md:217-251`) plus the
  * structural invariants from SURVEY.md §5.2. */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private val spec = Scd2.Spec("CustomerKey", "CustomerID",
    Seq("CustomerName", "SearchType", "CategoryCode"))
  private def ts(s: String) = to_timestamp(lit(s))

  private def batch(rows: (Long, String, String, String)*) =
    rows.toDF("CustomerID", "CustomerName", "SearchType", "CategoryCode")

  private val b1 = batch(
    (10L, "Acme", "C", "100"), (20L, "Globex", "C", "200"))

  test("new keys insert as active with contiguous surrogate keys") {
    val dim = Scd2.merge(None, b1, spec,
      ts("2024-01-01 00:00:00"))
    val rows = dim.orderBy("CustomerKey")
      .select("CustomerKey", "CustomerID", "IsActive").as[(Long, Long, Boolean)]
      .collect().toSeq
    assert(rows == Seq((1L, 10L, true), (2L, 20L, true)))
    assert(dim.filter($"ValidTo".isNotNull).count() == 0)
  }

  test("changed hash expires old version and inserts new; unchanged untouched") {
    val dim1 = Scd2.merge(None, b1, spec,
      ts("2024-01-01 00:00:00")).cache()
    val b2 = batch((10L, "Acme Corp", "C", "100"), (20L, "Globex", "C", "200"))
    val dim2 = Scd2.merge(Some(dim1), b2, spec, ts("2024-06-01 00:00:00")).cache()
    assert(dim2.count() == 3)
    // old Acme version expired
    val old = dim2.filter($"CustomerID" === 10 && !$"IsActive").collect()
    assert(old.length == 1)
    assert(old.head.getAs[java.sql.Timestamp]("ValidTo").toString.startsWith("2024-06-01"))
    // new Acme version active with next key
    val nw = dim2.filter($"CustomerID" === 10 && $"IsActive").collect()
    assert(nw.head.getAs[Long]("CustomerKey") == 3L)
    assert(nw.head.getAs[String]("CustomerName") == "Acme Corp")
    // Globex untouched
    val gx = dim2.filter($"CustomerID" === 20).collect()
    assert(gx.length == 1 && gx.head.getAs[Boolean]("IsActive"))
  }

  test("idempotence: merging the same batch twice changes nothing") {
    val dim1 = Scd2.merge(None, b1, spec,
      ts("2024-01-01 00:00:00")).cache()
    val dim2 = Scd2.merge(Some(dim1), b1, spec, ts("2024-06-01 00:00:00"))
    assert(dim2.count() == dim1.count())
    assert(dim2.exceptAll(dim1).count() == 0)
  }

  test("randomized merge sequences match an in-memory model (SURVEY §5.2)") {
    val rnd = new scala.util.Random(42) // seeded → deterministic run
    var prev: Option[DataFrame] = None
    var model = Map.empty[Long, (String, String, String)]
    var versions = 0L
    for (step <- 1 to 6) {
      val rows = (1L to 12L).flatMap { k =>
        if (rnd.nextBoolean())
          Some((k, s"name-${rnd.nextInt(3)}", "C", s"cat-${rnd.nextInt(3)}"))
        else None
      }
      if (rows.nonEmpty) {
        val changed = rows.filterNot(r => model.get(r._1).contains((r._2, r._3, r._4)))
        // localCheckpoint breaks lineage between rounds: each merge
        // references the prior dimension three times (expire/untouch/
        // key-seed), so an unbroken 6-deep chain grows the analyzed
        // plan ~3^n and stalls planning. Real pipelines break it the
        // same way by persisting the dimension between runs.
        val dim = Scd2.merge(prev, batch(rows: _*), spec,
          ts(f"2024-0$step%d-01 00:00:00")).localCheckpoint()
        prev = Some(dim)
        model ++= changed.map(r => r._1 -> ((r._2, r._3, r._4)))
        versions += changed.size
        // model agreement: active rows are exactly the model state
        val active = dim.filter($"IsActive")
          .select("CustomerID", "CustomerName", "SearchType", "CategoryCode")
          .as[(Long, String, String, String)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(active == model, s"step $step")
        // row count: one row per historical version, keys unique
        assert(dim.count() == versions, s"step $step")
        assert(dim.select("CustomerKey").distinct().count() == versions)
        // one active row per key; expired rows chain contiguously
        assert(dim.filter($"IsActive").groupBy("CustomerID").count()
          .filter($"count" =!= 1).count() == 0)
        val gaps = dim.as("a").join(dim.as("b"),
          $"a.CustomerID" === $"b.CustomerID" &&
          $"a.ValidTo" === $"b.ValidFrom").count()
        assert(gaps == dim.filter(!$"IsActive").count(), s"step $step")
      }
    }
    assert(versions > 12, "scenario exercised repeated version churn")
  }

  test("invariants: one active row per key; non-overlapping contiguous ranges") {
    val b2 = batch((10L, "Acme2", "C", "100"), (20L, "Globex", "C", "999"),
      (30L, "Initech", "C", "300"))
    val b3 = batch((10L, "Acme3", "C", "100"))
    val d1 = Scd2.merge(None, b1, spec, ts("2024-01-01 00:00:00")).cache()
    val d2 = Scd2.merge(Some(d1), b2, spec, ts("2024-02-01 00:00:00")).cache()
    val d3 = Scd2.merge(Some(d2), b3, spec, ts("2024-03-01 00:00:00")).cache()
    val active = d3.filter($"IsActive").groupBy("CustomerID").count()
      .filter($"count" =!= 1).count()
    assert(active == 0)
    // keys unique
    assert(d3.select("CustomerKey").distinct().count() == d3.count())
    // ranges: each expired row's ValidTo equals the successor's ValidFrom
    val gaps = d3.as("a").join(d3.as("b"),
        $"a.CustomerID" === $"b.CustomerID" &&
        $"a.ValidTo" === $"b.ValidFrom", "inner").count()
    val expiredRows = d3.filter(!$"IsActive").count()
    assert(gaps == expiredRows)
  }

  test("measured bound fires: dimBroadcastMaxRows=0 merges via shuffle joins, " +
       "row-identical to the broadcast regime") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // b2 exercises all three split branches against dim1: changed
    // hash (10), unchanged (20), new key (30) — so the lookup join,
    // the expire semi join AND the untouched anti join all carry rows.
    val b2 = batch((10L, "Acme Corp", "C", "100"), (20L, "Globex", "C", "200"),
      (30L, "Initech", "C", "300"))
    val dim1 = Scd2.merge(None, b1, spec,
      ts("2024-01-01 00:00:00")).localCheckpoint()
    def bhjCount(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      // ignore Ids.addContiguousIds' structural offsets join
      // (<= shuffle partitions rows by construction) — this test
      // gates DIMENSION broadcasts only
      plan.collect {
        case b: BroadcastHashJoinExec
          if !b.rightKeys.exists(_.references.exists(a =>
            graft.operators.Ids.isOffsetsInternal(a.name))) => b
      }.size
    }
    // Kill Catalyst's own size-based broadcasts so any BHJ left in the
    // plan can only come from Scd2.merge's explicit broadcast() hints
    // — the thing the measured bound exists to withhold.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = Scd2.merge(Some(dim1), b2, spec, ts("2024-06-01 00:00:00"),
        dimBroadcastMaxRows = 0L)
      assert(bhjCount(shuffled) == 0,
        "active-rows(2) > bound(0): lookup and expire joins must not broadcast")
      // control: the default bound broadcasts (proves the re-decision,
      // not just the absence of broadcasts under a hostile conf)
      val bcast = Scd2.merge(Some(dim1), b2, spec, ts("2024-06-01 00:00:00"))
      assert(bhjCount(bcast) >= 2,
        "within the bound the lookup AND expire joins broadcast")
      assert(shuffled.exceptAll(bcast).count() == 0 &&
             bcast.exceptAll(shuffled).count() == 0,
        "shuffle and broadcast regimes must produce identical rows")
      assert(shuffled.count() == 4)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("broadcastDim=false forces shuffle joins on lookup AND expire sides") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val b2 = batch((10L, "Acme Corp", "C", "100"), (30L, "Initech", "C", "300"))
    val dim1 = Scd2.merge(None, b1, spec,
      ts("2024-01-01 00:00:00")).localCheckpoint()
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val d = Scd2.merge(Some(dim1), b2, spec, ts("2024-06-01 00:00:00"),
        broadcastDim = false)
      val plan = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val bhj = plan.collect {
        case b: BroadcastHashJoinExec
          if !b.rightKeys.exists(_.references.exists(a =>
            graft.operators.Ids.isOffsetsInternal(a.name))) => b
      }.size
      // The documented contract: broadcastDim=false forces shuffle
      // joins outright — the expire set must honor it even though the
      // tiny dimension is well inside the measured bound.
      assert(bhj == 0, s"broadcastDim=false must leave no BHJ, found $bhj")
      assert(d.filter($"IsActive").count() == 3 && d.count() == 4)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  // Building a merge executes plans of its own: the key assignment
  // (Ids.addContiguousIds) materializes one checkpoint, and a merge
  // into an existing dimension runs the max-key probe first. Nothing
  // else executes: an RDD partition count over a dimension with
  // exchanges would be one more plan execution.

  test("a seed merge into an absent dimension runs only its key-assignment checkpoint") {
    val (dim, jobs) = jobsDuring(Scd2.merge(None, b1, spec, ts("2024-01-01 00:00:00")))
    assert(jobs.forall(_.nonEmpty), s"jobs outside any SQL action: $jobs")
    assert(jobs.flatten.distinct.size == 1, s"SQL actions while building: $jobs")
    assert(dim.count() == 2)
  }

  test("a merge into an existing dimension runs only its probe and key-assignment checkpoint") {
    // not checkpointed: the dimension's plan carries the exchanges of
    // the seed merge's key assignment
    val dim1 = Scd2.merge(None, b1, spec, ts("2024-01-01 00:00:00"))
    val b2 = batch((10L, "Acme Corp", "C", "100"), (30L, "Initech", "C", "300"))
    val (dim2, jobs) = jobsDuring(
      Scd2.merge(Some(dim1), b2, spec, ts("2024-06-01 00:00:00")))
    assert(jobs.forall(_.nonEmpty), s"jobs outside any SQL action: $jobs")
    assert(jobs.flatten.distinct.size == 2, s"SQL actions while building: $jobs")
    assert(dim2.count() == 4)
  }
}
