package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the test suites run on:
  * `local[cpus]` with shuffle partitions = cpus, UTC, UI off, log level
  * ERROR, and the two measurement settings below. Callers that need a
  * runtime SQL conf on top (parquet timestamp type, streaming progress
  * retention) set it with `spark.conf.set` after creating the session.
  * `perfbench.Main.session` sets the same confs, which keeps the
  * benchmark's `registry` workload continuous with `graft.Bench`.
  */
object GraftSession {

  /** SPARK_GRAFT_CPUS, else the machine's core count. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated-class cache sized to the workload (round-14, guide
      // §1.2 step 3): the default 100 entries cannot hold one pass of
      // this 231-query registry, so EVERY pass re-Janino-compiled
      // every query's codegen units — measured 211.8 s → 151.6 s
      // (×0.72) on the identical 3-pass protocol, 181 queries faster,
      // none slower beyond noise. A long-lived driver serving many
      // distinct queries sizes this cache the same way; it is
      // workload-sized (compiled classes), not data-sized, so the
      // setting is scale-independent. A static conf: it only takes
      // effect in the builder.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // Never use the bypass-merge shuffle writer (round-14, guide
      // §1.1 empirical loop): stack-sampling the whole bench showed
      // java.io.FileOutputStream.open0 as the TOP executor CPU frame
      // — BypassMergeSortShuffleWriter opens numPartitions files per
      // map task, which at this scale factor is pure filesystem
      // churn (32 creates+deletes per task for a few KB of shuffle
      // data). The sort writer opens ~1 file per task. Measured
      // 138.1 s → 115.5 s (with the same round's expression fixes)
      // on the 3-pass protocol, 1 query regressed > 0.1 s. At real
      // tiers shuffle partition counts exceed the default threshold
      // (200), so bypass never fires and this setting is a NO-OP at
      // scale — it only removes a small-scale measurement artifact.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
