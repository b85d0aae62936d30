package perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, started by `run.py`:
  *
  *   perfbench.Main run --workload W --seed N --units U --trace 0|1
  *       --cores C --work DIR [--landing DIR] [--sf-dir DIR --expected FILE]
  *       [--trace-out FILE]
  *   perfbench.Main gen-registry --cores C --work DIR --sf F --sf-dir DIR
  *   perfbench.Main pin --cores C --work DIR --sf F --sf-dir DIR --dest FILE Q...
  *
  * `run` prints one line `PERFBENCH_RESULT {json}` on stdout.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val mode = args.head
    val (opts, rest) = parse(args.tail.toList)
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try mode match {
      case "run" => run(spark, opts, cores, work, sessionS)
      case "gen-registry" => graft.ScaleGen.generate(spark, opts("sf").toDouble, opts("sf-dir"))
      case "pin" =>
        new Workloads(spark, work, 0, None, 0).pin(opts("sf-dir"), rest, opts("sf"),
          Paths.get(opts("dest")))
    } finally spark.stop()
  }

  private def parse(args: List[String]): (Map[String, String], List[String]) = args match {
    case k :: v :: tail if k.startsWith("--") =>
      val (m, r) = parse(tail)
      (m + (k.drop(2) -> v), r)
    case x :: tail =>
      val (m, r) = parse(tail)
      (m, x :: r)
    case Nil => (Map.empty, Nil)
  }

  /** The `graft.Bench` session, with scratch space kept in `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile of `xs`, `p` in [0, 1]. */
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest of p90/p95/p99 with at least ten samples beyond it;
    * p90 when a run has fewer than 100 samples (the percentile and the
    * sample count are reported beside it). */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(0.99, 0.95).find(p => xs.size * (1 - p) >= 10).getOrElse(0.9)
    (p, percentile(xs, p))
  }

  private def run(spark: SparkSession, opts: Map[String, String], cores: Int, work: Path,
                  sessionS: Double): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val trace = if (traced) Some(new Trace(spark)) else None
    val w = new Workloads(spark, work, opts("units").toInt, trace, sessionS)
    val out = workload match {
      case "daily_increments" => w.dailyIncrements(Paths.get(opts("landing")))
      case "registry" =>
        w.registry(opts("sf-dir"), new ObjectMapper().readTree(Paths.get(opts("expected")).toFile), seed)
    }
    val ops = out.opSeconds.toSeq
    val (tailP, tailS) = tail(ops)
    val metrics: Map[String, Double] = trace match {
      case None => Map(
        "setup_s" -> out.setupS,
        "op_p50_s" -> median(ops),
        "op_tail_s" -> tailS,
        "pass_s" -> median(out.passSeconds.toSeq),
        "rows_per_s" -> out.rows / ops.sum)
      case Some(tr) =>
        tr.close()
        val (layers, spans) = perLayer(tr, workload, cores)
        val m = Layers.Names.map(n => n -> layers.getOrElse(n, 0.0)).toMap +
          ("trace.op_p50_s" -> median(ops))
        opts.get("trace-out").foreach { f =>
          Files.writeString(Paths.get(f), mapper.writeValueAsString(Map(
            "workload" -> workload, "seed" -> seed, "metrics" -> m, "spans" -> spans)))
        }
        m
    }
    // a run whose ops all failed has no latencies: it reads 0 (and is not correct)
    val units = metrics.map { case (k, v) =>
      k -> Map("value" -> (if (v.isNaN) 0.0 else v),
        "unit" -> (if (traced) Layers.unit(k) else e2eUnit(k)))
    }
    val failures = out.failures.map { case (op, cls, msg) =>
      Map("op" -> op, "error" -> cls, "message" -> msg)
    }
    val detail = out.detail ++ Map(
      "ops" -> ops.size, "op_seconds" -> out.opNames.zip(ops).map { case (n, s) => Seq(n, s) },
      "op_tail_percentile" -> tailP * 100, "op_tail_samples" -> ops.size,
      "pass_seconds" -> out.passSeconds.toSeq,
      "fail_frac" -> (if (out.attempted > 0) out.failures.size.toDouble / out.attempted else 0.0),
      "failures" -> failures,
      "lake_bytes_per_input_byte" ->
        (if (out.inputBytes > 0) out.lakeBytes.toDouble / out.inputBytes else 0.0))
    val result = Map(
      "correct" -> (out.failures.isEmpty && ops.nonEmpty),
      "attempted" -> out.attempted, "failed" -> out.failures.size,
      "metrics" -> units, "detail" -> detail)
    println("PERFBENCH_RESULT " + mapper.writeValueAsString(result))
  }

  private def e2eUnit(name: String): String = name match {
    case "rows_per_s" => "rows/s"
    case _ => "s"
  }

  /** Per-layer metrics of a traced run: means per op for the pipeline
    * workloads, per pass for the registry (over complete passes). */
  private def perLayer(tr: Trace, workload: String,
                       cores: Int): (Map[String, Double], Seq[Map[String, Any]]) = {
    val views = tr.ops.toSeq.map(tr.view)
    def layers(v: Trace.OpView) = {
      val specific =
        if (workload == "registry") Layers.registry(v)
        else Layers.pipeline(v, v.op.attrs.getOrElse("versions", 0.0))
      Layers.engine(v, cores) ++ specific ++ Map(
        "trace.sync_s" -> v.op.syncNs / 1e9, "trace.listener_s" -> v.op.listenerNs / 1e9)
    }
    val (bulk, timed) = views.partition(_.op.attrs.contains("bulk"))
    val units: Seq[Seq[Map[String, Double]]] =
      if (workload == "registry") {
        val byPass = timed.groupBy(_.op.attrs("pass"))
        val size = byPass.values.map(_.size).maxOption.getOrElse(0)
        byPass.values.filter(_.size == size).map(_.map(layers)).toSeq
      } else timed.map(v => Seq(layers(v)))
    val summed = units.map(u => u.flatMap(_.keys).distinct.map(k => k -> u.map(_.getOrElse(k, 0.0)).sum).toMap)
    val n = math.max(1, summed.size)
    val keys = summed.flatMap(_.keys).distinct
    val mean = keys.map(k => k -> summed.map(_.getOrElse(k, 0.0)).sum / n).toMap
    // executor utilization is a ratio: recompute it from the summed parts
    val util = mean.get("executor.run_s").zip(mean.get("queries.pass_s").orElse(mean.get("pipeline.wall_s")))
      .map { case (run, wall) => if (wall > 0) run / (wall * cores) else 0.0 }
    val bulkLayers = bulk.headOption.map(layers).map(m =>
      Layers.BulkNames.map(k => s"bulk.$k" -> m.getOrElse(k, 0.0)).toMap).getOrElse(Map.empty)
    (mean ++ util.map("executor.utilization" -> _) ++ bulkLayers, views.flatMap(Layers.spans))
  }
}
