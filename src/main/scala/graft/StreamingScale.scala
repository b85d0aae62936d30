package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.queries.QueryDef
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Streaming-tier scale harness: drives the stateful streaming
  * operators ([[StreamingOps.sessionize]], [[StreamingOps.patternDetect]],
  * [[StreamingOps.heavyHittersStream]], [[StreamingOps.scd2Sink]])
  * with FILE-stream input at ScaleGen tier volumes (5x/10x/20x the
  * bench fixture = two volume doublings) and records, per (tier, op):
  * wall seconds, rows in/out, micro-batch count, and the state
  * store's own metrics (`numRowsTotal`, `memoryUsedBytes` from
  * `StreamingQueryProgress.stateOperators`) — so the documented state
  * bounds ("one open session per user", "one (ts,id) pair per user",
  * "k counters per shard") are MEASURED under volume, not asserted in
  * comments.
  *
  * `runMain graft.StreamingScale [outJsonl] [tierDir...]`
  * (defaults: docs/streaming_scale_r14.jsonl over target/scale/sf{0.5,1.0,2.0}).
  * The SCD2 block runs BOTH sinks ([[StreamingOps.scd2Sink]] and
  * [[StreamingOps.scd2SinkPartitioned]]) over the identical ordered
  * CDC stream and asserts the partitioned read-back dimension equals
  * the monolithic one row for row — so the partitioned sink's flat
  * `batch_ms` tail is measured against the monolithic slope on the
  * same data, not argued.
  *
  * Input discipline: the events stream is re-written once per tier
  * as 9 ts-RANGE files whose mtimes increase with the range, so the
  * file source's (mtime, path) ordering delivers micro-batches in
  * event-time order — the arrival-order visible horizon the Append
  * contract documents. That makes two cross-run invariants exact:
  *
  *  - sessionize: closed-sessions-emitted + open-sessions-in-state
  *    must equal the BATCH twin's ([[graft.operators.EventWindows
  *    .sessionize]]) session count — an independent-implementation
  *    equality at full tier volume;
  *  - patternDetect: matches emitted across 9 state-carrying batches
  *    must equal a single-pass fold over each user's full sorted
  *    history — state carryover across batch boundaries changes
  *    nothing (the fold shares the transition rule, so this is a
  *    batch-boundary-independence check, not an independent oracle;
  *    the sf0.01 MemoryStream specs carry the semantic oracle).
  */
object StreamingScale {

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Rewrite a tier's events as ts-range files with increasing
    * mtimes; returns the prepared dir. Range partitioning assigns
    * partition ids in key order, so file name order == ts order; the
    * bumped mtimes make the file source's processing order match. */
  private def prepOrderedEvents(spark: SparkSession, tierDir: String,
                                workDir: String, files: Int): String = {
    val dir = s"$workDir/events_ordered"
    QueryDef.eventsTable(spark, tierDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartitionByRange(files, col("ts"), col("event_id"))
      .sortWithinPartitions("ts", "event_id")
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 2000L)
    }
    dir
  }

  private final case class RunStats(wallSec: Double, batches: Long,
                                    rowsIn: Long, rowsOut: Long,
                                    stateRows: Long, stateBytes: Long,
                                    batchMs: Seq[Long])

  // JSONL numbers must be locale-independent: the `f` interpolator
  // formats with the JVM default locale, which may emit comma decimals
  private def f2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  /** Start the query, drain everything, pull the official progress
    * metrics. `stateRows`/`stateBytes` are the LAST progress's state
    * operator totals (the end-of-stream resident state). */
  private def drive(mk: => StreamingQuery): RunStats = {
    val t0 = System.nanoTime()
    val q = mk
    // try/finally: a tripped require below must not leave the query
    // running with its checkpoint dir held (the next locally{} block
    // would then race it for cores and temp space)
    try {
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress
      // recentProgress is a ring buffer capped at
      // spark.sql.streaming.numRecentProgressUpdates — a tier producing
      // more progress events than the cap would silently undercount
      // rows_in/batches. The session raises the cap in main(); fail loud
      // if a tier ever fills it anyway.
      val cap = q.sparkSession.conf
        .get("spark.sql.streaming.numRecentProgressUpdates").toInt
      require(prog.length < cap,
        s"recentProgress hit the retention cap ($cap) — metrics would undercount")
      val byBatch = prog.groupBy(_.batchId).map(_._2.head).toSeq.sortBy(_.batchId)
      val rowsIn = byBatch.map(_.numInputRows).sum
      val rowsOut = byBatch.map(p => Option(p.sink).map(_.numOutputRows).getOrElse(0L))
        .filter(_ >= 0).sum
      val lastState = byBatch.reverse.find(_.stateOperators.nonEmpty)
      val stateRows = lastState.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      val stateBytes = lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(-1L)
      // per-data-batch trigger wall — lets a consumer decompose growth:
      // a sink whose per-batch cost rises with HISTORY (scd2Sink's gold
      // rewrite) shows an increasing tail here even when total wall
      // looks flat across tiers
      val batchMs = byBatch.filter(_.numInputRows > 0)
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L))
      RunStats(wall, byBatch.count(_.numInputRows > 0), rowsIn, rowsOut,
        stateRows, stateBytes, batchMs)
    } finally q.stop()
  }

  /** Single-pass per-user fold with patternDetect's transition rule
    * over the full sorted history (batch-boundary-independence
    * expectation for the streaming run). */
  private def foldMatches(ev: Dataset[Event], trig: String, targ: String,
                          withinMs: Long): Long = {
    import ev.sparkSession.implicits._
    ev.filter(e => e.event_type == trig || e.event_type == targ)
      .groupByKey(_.user_id)
      .mapGroups { (_, it) =>
        var t = Option.empty[Long]; var n = 0L
        it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
          val ms = e.ts.getTime
          if (e.event_type == trig) t = Some(ms)
          else t match {
            case Some(ts) if ms - ts >= 0 && ms - ts <= withinMs => n += 1; t = None
            case Some(ts) if ms - ts > withinMs => t = None
            case _ => ()
          }
        }
        n
      }.reduce(_ + _)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("docs/streaming_scale_r14.jsonl")
    val tiers =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("target/scale/sf0.5", "target/scale/sf1.0", "target/scale/sf2.0")
    val spark = GraftSession.local()
    // drive() derives rows_in/batches from recentProgress; the
    // default retention (100) could silently truncate a tier with
    // many no-data batches — raise it and assert under it in drive()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    import spark.implicits._

    val outPath = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outPath.getParent)
    // one artifact per run: a rerun must not interleave stale lines
    // from a prior run into the same JSONL
    java.nio.file.Files.deleteIfExists(outPath)
    def emit(line: String): Unit = {
      java.nio.file.Files.write(outPath, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(s"[streamscale] $line")
    }

    tiers.foreach { tier =>
      val work = java.nio.file.Files.createTempDirectory("graft_streamscale").toString
      val ordered = prepOrderedEvents(spark, tier, work, files = 9)
      val batchEvents = QueryDef.eventsTable(spark, tier)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[Event]
      val users = batchEvents.map(_.user_id).distinct().count()

      def eventStream(): Dataset[Event] =
        spark.readStream.schema(eventSchema)
          .option("maxFilesPerTrigger", 1).parquet(ordered)
          .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
          .as[Event]

      // ---- sessionize -------------------------------------------------
      locally {
        val ckpt = java.nio.file.Files.createTempDirectory("graft_ss_ck").toString
        val st = drive(
          StreamingOps.sessionize(eventStream(), gapMinutes = 30)
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt).start())
        val batchSessions =
          graft.operators.EventWindows.sessionize(batchEvents.toDF(), 30).count()
        val boundOk = st.stateRows <= users
        val twinOk = st.rowsOut + st.stateRows == batchSessions
        emit(s"""{"op":"sessionize","tier":"${Jsonl.esc(tier)}","rows_in":${st.rowsIn},""" +
          s""""batches":${st.batches},"wall_s":${f2(st.wallSec)},""" +
          s""""rows_per_s":${(st.rowsIn / st.wallSec).round},""" +
          s""""sessions_emitted":${st.rowsOut},"state_rows":${st.stateRows},""" +
          s""""state_bytes":${st.stateBytes},"distinct_users":$users,""" +
          s""""batch_twin_sessions":$batchSessions,""" +
          s""""state_bound_ok":$boundOk,"emitted_plus_open_eq_batch":$twinOk}""")
        require(boundOk, s"sessionize state ${st.stateRows} > users $users")
        require(twinOk,
          s"sessionize emitted ${st.rowsOut} + open ${st.stateRows} != batch $batchSessions")
      }

      // ---- patternDetect ---------------------------------------------
      locally {
        val ckpt = java.nio.file.Files.createTempDirectory("graft_pd_ck").toString
        val withinMs = 7L * 24 * 3600 * 1000
        val st = drive(
          StreamingOps.patternDetect(eventStream(), "click", "purchase", withinMs)
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt).start())
        val expected = foldMatches(batchEvents, "click", "purchase", withinMs)
        val boundOk = st.stateRows <= users
        val foldOk = st.rowsOut == expected
        emit(s"""{"op":"patternDetect","tier":"${Jsonl.esc(tier)}","rows_in":${st.rowsIn},""" +
          s""""batches":${st.batches},"wall_s":${f2(st.wallSec)},""" +
          s""""rows_per_s":${(st.rowsIn / st.wallSec).round},""" +
          s""""matches":${st.rowsOut},"state_rows":${st.stateRows},""" +
          s""""state_bytes":${st.stateBytes},"distinct_users":$users,""" +
          s""""single_pass_fold_matches":$expected,""" +
          s""""state_bound_ok":$boundOk,"matches_eq_fold":$foldOk}""")
        require(boundOk, s"patternDetect state ${st.stateRows} > users $users")
        require(foldOk, s"patternDetect matches ${st.rowsOut} != fold $expected")
      }

      // ---- heavyHittersStream ----------------------------------------
      locally {
        val ckpt = java.nio.file.Files.createTempDirectory("graft_hh_ck").toString
        val k = 64; val shards = 16
        val docsDir = s"$tier/documents.parquet"
        val docSchema = spark.read.parquet(docsDir).schema
        def tokenStream(): Dataset[String] =
          spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", 1).parquet(docsDir)
            .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
            .filter(length($"tok") > 0).as[String]
        val nTokens = spark.read.parquet(docsDir)
          .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(length($"tok") > 0).count()
        val st = drive(
          StreamingOps.heavyHittersStream(tokenStream(), k = k, shards = shards)
            .writeStream.outputMode("update").format("noop")
            .option("checkpointLocation", ckpt).start())
        val boundOk = st.stateRows <= shards
        emit(s"""{"op":"heavyHittersStream","tier":"${Jsonl.esc(tier)}","tokens_in":$nTokens,""" +
          s""""batches":${st.batches},"wall_s":${f2(st.wallSec)},""" +
          s""""tokens_per_s":${(nTokens / st.wallSec).round},""" +
          s""""k":$k,"shards":$shards,"state_rows":${st.stateRows},""" +
          s""""state_bytes":${st.stateBytes},""" +
          s""""state_bound_ok":$boundOk}""")
        require(boundOk, s"heavyHitters state ${st.stateRows} > shards $shards")
      }

      // ---- tumbling (watermark eviction) ------------------------------
      locally {
        val ckpt = java.nio.file.Files.createTempDirectory("graft_tw_ck").toString
        // ts-ordered arrival advances the watermark batch over batch, so
        // closed 1 h windows must EVICT: end-of-stream state is only the
        // windows inside the 2 h watermark horizon, not the year's ~44k
        val st = drive(
          StreamingOps.tumbling(eventStream().toDF(), "1 hour", "2 hours")
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt).start())
        val batchWindows = batchEvents.toDF()
          .groupBy(window(col("ts"), "1 hour"), col("event_type")).count().count()
        val types = batchEvents.map(_.event_type).distinct().count()
        // horizon bound: watermark/width + 2 boundary windows, per type
        val bound = types * (2 + 2)
        val boundOk = st.stateRows <= bound
        val twinOk = st.rowsOut + st.stateRows == batchWindows
        emit(s"""{"op":"tumbling","tier":"${Jsonl.esc(tier)}","rows_in":${st.rowsIn},""" +
          s""""batches":${st.batches},"wall_s":${f2(st.wallSec)},""" +
          s""""rows_per_s":${(st.rowsIn / st.wallSec).round},""" +
          s""""windows_emitted":${st.rowsOut},"state_rows":${st.stateRows},""" +
          s""""state_bytes":${st.stateBytes},"batch_twin_windows":$batchWindows,""" +
          s""""eviction_bound":$bound,"state_bound_ok":$boundOk,""" +
          s""""emitted_plus_state_eq_batch":$twinOk}""")
        require(boundOk, s"tumbling state ${st.stateRows} > horizon bound $bound")
        require(twinOk,
          s"tumbling emitted ${st.rowsOut} + state ${st.stateRows} != batch $batchWindows")
      }

      // ---- dedupStream (watermark eviction) ---------------------------
      locally {
        val ckpt = java.nio.file.Files.createTempDirectory("graft_dd_ck").toString
        val keyed = () => eventStream().toDF()
          .withColumn("k", concat_ws("|", col("user_id"), col("event_type")))
        val st = drive(
          StreamingOps.dedupStream(keyed(), Seq("k"), "ts", "1 hour")
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt).start())
        val totalKeys = batchEvents.toDF()
          .select(concat_ws("|", col("user_id"), col("event_type"))).distinct().count()
        val maxTs = batchEvents.toDF().agg(max(col("ts"))).head().getTimestamp(0).getTime
        // keys with an event inside 2x the watermark horizon (generous
        // slack over the exact eviction frontier)
        val horizonKeys = batchEvents
          .filter(e => maxTs - e.ts.getTime <= 2L * 3600 * 1000)
          .map(e => s"${e.user_id}|${e.event_type}").distinct().count()
        val boundOk = st.stateRows <= math.max(horizonKeys, 1L)
        val evicted = st.stateRows < totalKeys / 10
        emit(s"""{"op":"dedupStream","tier":"${Jsonl.esc(tier)}","rows_in":${st.rowsIn},""" +
          s""""batches":${st.batches},"wall_s":${f2(st.wallSec)},""" +
          s""""rows_per_s":${(st.rowsIn / st.wallSec).round},""" +
          s""""survivors":${st.rowsOut},"state_rows":${st.stateRows},""" +
          s""""state_bytes":${st.stateBytes},"total_distinct_keys":$totalKeys,""" +
          s""""keys_in_2x_horizon":$horizonKeys,""" +
          s""""state_bound_ok":$boundOk,"evicted_vs_total_ok":$evicted}""")
        require(boundOk, s"dedupStream state ${st.stateRows} > horizon keys $horizonKeys")
        require(evicted, s"dedupStream state ${st.stateRows} not evicting (total $totalKeys)")
      }

      // ---- scd2Sink (monolithic) + scd2SinkPartitioned ----------------
      // Both sinks consume the identical ordered CDC stream; the
      // partitioned variant's read-back dimension must equal the
      // monolithic one ROW FOR ROW (surrogate keys included) at tier
      // volume, and its per-batch trigger wall must stay flat while the
      // monolithic sink's grows with resident history (the measured
      // ~1.5 µs/row slope that motivated the split).
      locally {
        import graft.operators.Scd2
        import graft.sources.{LakeIO, LakeZones}
        val spec = Scd2.Spec("DimKey", "user_id", Seq("event_type", "value"))
        def cdcStream(): DataFrame =
          spark.readStream.schema(eventSchema)
            .option("maxFilesPerTrigger", 1).parquet(ordered)
            .select($"user_id", $"event_type", $"value", $"ts")

        def audit(op: String, st: RunStats, dim: DataFrame,
                  extra: String): (Long, Long) = {
          val dimRows = dim.count()
          val active = dim.filter(col("IsActive")).count()
          val activeOk = active == users
          // one active version per key, [ValidFrom, ValidTo) chains disjoint
          val overlaps = dim.as("a").join(dim.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.DimKey") < col("b.DimKey") &&
              col("a.ValidFrom") < col("b.ValidTo") &&
              col("b.ValidFrom") < col("a.ValidTo")).count()
          emit(s"""{"op":"$op","tier":"${Jsonl.esc(tier)}","rows_in":${st.rowsIn},""" +
            s""""batches":${st.batches},"wall_s":${f2(st.wallSec)},""" +
            s""""rows_per_s":${(st.rowsIn / st.wallSec).round},""" +
            s""""dim_rows":$dimRows,"active_rows":$active,"distinct_users":$users,""" +
            s""""batch_ms":[${st.batchMs.mkString(",")}],""" +
            s""""interval_overlaps":$overlaps,""" +
            s""""one_active_per_key_ok":$activeOk,"intervals_disjoint_ok":${overlaps == 0L}""" +
            extra + "}")
          require(activeOk, s"$op active $active != users $users")
          require(overlaps == 0L, s"$op version intervals overlap: $overlaps")
          (dimRows, active)
        }

        val lakeM = java.nio.file.Files.createTempDirectory("graft_s2_lake").toString
        val ckptM = java.nio.file.Files.createTempDirectory("graft_s2_ck").toString
        val stM = drive(
          StreamingOps.scd2Sink(cdcStream(), LakeZones(lakeM), "dim_user", spec, ckptM))
        val dimM = LakeIO.readGold(spark, LakeZones(lakeM), "dim_user")
        audit("scd2Sink", stM, dimM, "")

        val lakeP = java.nio.file.Files.createTempDirectory("graft_s2p_lake").toString
        val ckptP = java.nio.file.Files.createTempDirectory("graft_s2p_ck").toString
        val stP = drive(
          StreamingOps.scd2SinkPartitioned(
            cdcStream(), LakeZones(lakeP), "dim_user", spec, ckptP))
        val dimP = StreamingOps.readScd2Dim(spark, LakeZones(lakeP), "dim_user")
        // row-identical to the monolithic dimension, multiplicity-aware
        // (exceptAll both ways), surrogate keys included
        val cols = dimM.columns.sorted.map(col).toSeq
        val missing = dimM.select(cols: _*).exceptAll(dimP.select(cols: _*)).count()
        val extraR = dimP.select(cols: _*).exceptAll(dimM.select(cols: _*)).count()
        audit("scd2SinkPartitioned", stP, dimP,
          s""","dim_minus_mono":$extraR,"mono_minus_dim":$missing,""" +
            s""""dim_eq_monolithic":${missing == 0L && extraR == 0L}""")
        require(missing == 0L && extraR == 0L,
          s"partitioned dim != monolithic dim (mono-dim $missing, dim-mono $extraR)")
      }
    }

    // ---- scd2 history-depth sweep ------------------------------------
    // The tier ladder scales keys AND events together, so history depth
    // per key stays ~9 at every tier and the monolithic sink's
    // linear-in-resident-history term hides inside per-batch ingest
    // cost (the r14 tier rows above show both sinks within noise of
    // each other). This sweep isolates the history axis: IDENTICAL
    // ingest (the sf2 tier stream) into gold storage pre-seeded with D
    // CLOSED rows. Seeds carry unique NEGATIVE user_ids (no invariant
    // interaction) and surrogate keys <= 0 with max exactly 0 (the
    // max-key probe reads 0, the same continuation point as an empty
    // dimension, so both sinks assign byte-identical organic keys);
    // they are IsActive=false, so the active census and the broadcast
    // decision are untouched. The monolithic sink re-reads and
    // rewrites every seed row every batch (per-batch cost grows with
    // D); the partitioned sink's active table never contains them
    // (per-batch cost flat in D). Both read-back dimensions must equal
    // seed ∪ organic row for row.
    locally {
      import graft.operators.Scd2
      import graft.sources.{LakeIO, LakeZones}
      val tier = "target/scale/sf2.0"
      if (new java.io.File(tier).isDirectory) {
        val work = java.nio.file.Files.createTempDirectory("graft_s2sweep").toString
        val ordered = prepOrderedEvents(spark, tier, work, files = 9)
        val users = QueryDef.eventsTable(spark, tier)
          .select($"user_id").distinct().count()
        val spec = Scd2.Spec("DimKey", "user_id", Seq("event_type", "value"))
        def cdcStream(): DataFrame =
          spark.readStream.schema(eventSchema)
            .option("maxFilesPerTrigger", 1).parquet(ordered)
            .select($"user_id", $"event_type", $"value", $"ts")
        def seedRows(n: Long): DataFrame =
          spark.range(n).select(
            (-col("id")).as("DimKey"),
            (-col("id") - 1).as("user_id"),
            lit("seed").as("event_type"),
            lit(0.0).as("value"),
            lit(false).as("IsActive"),
            timestamp_seconds(lit(1000000000L) + col("id")).as("ValidFrom"),
            timestamp_seconds(lit(1000000001L) + col("id")).as("ValidTo"),
            md5(col("id").cast("string")).as("RowHash"),
            timestamp_seconds(lit(1000000000L)).as("CreatedDate"),
            timestamp_seconds(lit(1000000001L)).as("ModifiedDate"))
        // median of the steady-state tail (skip the first two batches:
        // cold caches + the seed-load first merge)
        def tailMs(ms: Seq[Long]): Long = {
          val t = ms.drop(2).sorted
          if (t.isEmpty) -1L else t(t.length / 2)
        }
        val depths = Seq(0L, 1500000L, 3000000L, 6000000L)
        val tails = depths.map { d =>
          val lakeM = java.nio.file.Files.createTempDirectory("graft_hs_m").toString
          val ckptM = java.nio.file.Files.createTempDirectory("graft_hs_mck").toString
          if (d > 0) LakeIO.replaceGold(seedRows(d), LakeZones(lakeM), "dim_user")
          val stM = drive(StreamingOps.scd2Sink(
            cdcStream(), LakeZones(lakeM), "dim_user", spec, ckptM))
          val dimM = LakeIO.readGold(spark, LakeZones(lakeM), "dim_user")

          val lakeP = java.nio.file.Files.createTempDirectory("graft_hs_p").toString
          val ckptP = java.nio.file.Files.createTempDirectory("graft_hs_pck").toString
          if (d > 0) LakeIO.appendGoldRun(
            seedRows(d), LakeZones(lakeP), "dim_user__closed", "seed")
          val stP = drive(StreamingOps.scd2SinkPartitioned(
            cdcStream(), LakeZones(lakeP), "dim_user", spec, ckptP))
          val dimP = StreamingOps.readScd2Dim(spark, LakeZones(lakeP), "dim_user")

          val cols = dimM.columns.sorted.map(col).toSeq
          val missing = dimM.select(cols: _*).exceptAll(dimP.select(cols: _*)).count()
          val extraR = dimP.select(cols: _*).exceptAll(dimM.select(cols: _*)).count()
          val activeM = dimM.filter(col("IsActive")).count()
          val eq = missing == 0L && extraR == 0L
          val mt = tailMs(stM.batchMs); val pt = tailMs(stP.batchMs)
          emit(s"""{"op":"scd2HistorySweep","tier":"${Jsonl.esc(tier)}","seed_rows":$d,""" +
            s""""mono_wall_s":${f2(stM.wallSec)},"part_wall_s":${f2(stP.wallSec)},""" +
            s""""mono_tail_ms":$mt,"part_tail_ms":$pt,""" +
            s""""mono_batch_ms":[${stM.batchMs.mkString(",")}],""" +
            s""""part_batch_ms":[${stP.batchMs.mkString(",")}],""" +
            s""""dim_rows":${dimM.count()},"active_rows":$activeM,""" +
            s""""distinct_users":$users,"dim_eq_monolithic":$eq}""")
          require(activeM == users, s"sweep d=$d active $activeM != users $users")
          require(eq, s"sweep d=$d partitioned dim != monolithic (mono-part " +
            s"$missing, part-mono $extraR)")
          (mt, pt)
        }
        val (m0, p0) = tails.head; val (mMax, pMax) = tails.last
        // the designed separation, asserted with generous slack:
        // monolithic per-batch cost must GROW with resident history,
        // the partitioned sink's must NOT
        require(mMax > 2 * m0,
          s"monolithic tail did not grow with history: $m0 -> $mMax ms")
        require(pMax < mMax / 2,
          s"partitioned tail $pMax ms not flat vs monolithic $mMax ms at max depth")
        require(pMax < 3 * math.max(p0, 1L),
          s"partitioned tail grew with history: $p0 -> $pMax ms")
      }
    }
    spark.stop()
  }
}
