package graft

import java.time.LocalDate
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{CalendarDim, CleanJde, FactLoad, Scd2}
import graft.sources.{LakeIO, LakeZones}
import graft.types.Schemas

/** C1 + C7 — metadata-driven ingestion and the Bronze→Silver→Gold
  * orchestration (SURVEY.md §2.6, §3.1).
  *
  * The reference drives ingestion from a JSON config array
  * (`config/source_config.json`) through a 4-way-parallel ForEach of
  * CSV→Parquet copies (`PL_Ingest_Bronze.json:49-110`), then chains
  * Silver and Gold transforms on success with retry policies
  * (`PL_Master.json:6-69`). Here each stage is a pure DataFrame
  * function; stage boundaries are lake writes; retries/alerts are a
  * plain wrapper (the documented-but-absent OnFailure alert webhook —
  * SURVEY.md C7 — becomes an injectable callback).
  */
object Pipeline {

  /** One entry of the ingestion config
    * (`config/source_config.json:1-12`). */
  final case class SourceSpec(sourceFile: String, sinkPath: String,
                              description: String)

  /** Schema registry for known JDE tables (imposed at the CSV edge —
    * the reference infers; we pin the declared projection). */
  val SchemaFor: Map[String, StructType] = Map(
    "F0101" -> Schemas.F0101,
    "F4211" -> Schemas.F4211)

  def readConfig(spark: SparkSession, path: String): Seq[SourceSpec] = {
    import spark.implicits._
    LakeIO.readJsonConfig(spark, path)
      .select("sourceFile", "sinkPath", "description")
      .as[(String, String, String)]
      .collect()
      .toSeq
      .map { case (f, p, d) => SourceSpec(f, p, d) }
  }

  /** C1 — ingest every configured CSV into time-partitioned Bronze,
    * `parallelism`-way concurrent (reference ForEach batchCount=4,
    * `PL_Ingest_Bronze.json:53-54`). Spark schedules the jobs
    * concurrently from the driver; each file's read→write is an
    * independent job. */
  def ingest(spark: SparkSession, zones: LakeZones, landingDir: String,
             specs: Seq[SourceSpec], ingestDate: LocalDate,
             parallelism: Int = 4): Unit = {
    Branches.all(specs.map { spec => () =>
      val table = spec.sourceFile.stripSuffix(".csv")
      val schema = SchemaFor.getOrElse(table,
        sys.error(s"no schema registered for $table"))
      val df = LakeIO.readCsv(spark, s"$landingDir/${spec.sourceFile}", schema)
      LakeIO.writeBronze(df, zones, spec.sinkPath, ingestDate)
    }, parallelism)
  }

  /** C7 retry wrapper: `attempts` total tries, `onFailure` alert hook
    * with the reference's webhook payload shape (message, stage —
    * `docs/technical_report.md:344-369`). */
  def withRetry[T](stage: String, attempts: Int = 2,
                   onFailure: (String, Throwable) => Unit = (_, _) => ())(
      body: => T): T = {
    var last: Throwable = null
    (1 to attempts).foreach { _ =>
      Try(body) match {
        case Success(v) => return v
        case Failure(e) => last = e
      }
    }
    onFailure(stage, last)
    throw last
  }

  /** Full Bronze→Silver→Gold run (entry point 1, SURVEY.md §3.1).
    * Returns the loaded fact frame for inspection. */
  def run(spark: SparkSession, zones: LakeZones, landingDir: String,
          configPath: String, ingestDate: LocalDate,
          now: java.sql.Timestamp,
          onFailure: (String, Throwable) => Unit = (_, _) => ()): DataFrame = {
    val nowCol = lit(now).cast("timestamp")

    withRetry("bronze", onFailure = onFailure) {
      ingest(spark, zones, landingDir, readConfig(spark, configPath), ingestDate)
    }

    val silver = withRetry("silver", onFailure = onFailure) {
      val f4211 = LakeIO.readBronze(spark, zones, "jde/F4211", Some(ingestDate))
        .select(Schemas.F4211.fieldNames.map(col).toIndexedSeq: _*)
      val cleaned = CleanJde(f4211)
      LakeIO.overwriteSilver(cleaned, zones, "transactions")

      val f0101 = LakeIO.readBronze(spark, zones, "jde/F0101", Some(ingestDate))
      val incoming = f0101.select(
        col("ABAN8").as("CustomerID"), col("ABALPH").as("CustomerName"),
        col("ABAT1").as("SearchType"), col("ABAC01").as("CategoryCode"))
      val spec = Scd2.Spec("CustomerKey", "CustomerID",
        Seq("CustomerName", "SearchType", "CategoryCode"))
      // through swap recovery: a dimension caught in a replaceGold
      // rename window continues its history instead of re-seeding
      val dim0 = LakeIO.readGoldIfPresent(spark, zones, "dim_customer")
      // first-ever key versions get beginning-of-time validity so
      // historical facts resolve in the PIT join (SURVEY.md §7.4.3)
      val dim1 = Scd2.merge(dim0, incoming, spec, nowCol,
        newKeyValidFrom = Some(to_timestamp(lit("1900-01-01 00:00:00"))))
      // read-modify-write: materialize to a staging dir, then swap —
      // the live dir stays intact while the job reads from it
      LakeIO.replaceGold(dim1, zones, "dim_customer")
      LakeIO.readSilver(spark, zones, "transactions")
    }

    withRetry("gold", onFailure = onFailure) {
      val dimDate = CalendarDim(spark)
      LakeIO.overwriteGold(dimDate, zones, "dim_date")
      // IDENTITY(1,1) continuation: seed SalesKey from the existing
      // fact's max so incremental loads never reuse keys (ADVICE r01);
      // exclude this run's own load_id so a retry re-assigns the SAME
      // key range instead of stacking on its partial previous attempt.
      val loadId = ingestDate.toString
      // Only a missing table starts at 0; a failed read fails the load.
      val keyOffset: Long =
        LakeIO.readGoldIfPresent(spark, zones, "fact_sales").fold(0L) {
          _.filter(col("load_id") =!= loadId)
            .agg(coalesce(max(col("SalesKey")), lit(0L))).head().getLong(0)
        }
      val fact = FactLoad.loadFactSales(
        silver,
        LakeIO.readGold(spark, zones, "dim_customer"),
        LakeIO.readGold(spark, zones, "dim_date"),
        nowCol, keyOffset)
      // dynamic-partition overwrite of this run's load_id partition:
      // retries replace, not duplicate (idempotent append — ADVICE r01)
      LakeIO.appendGoldRun(fact.drop("DateKeyValid"), zones, "fact_sales", loadId)
      LakeIO.readGold(spark, zones, "fact_sales")
    }
  }

  /** C6 — the flagship consumption query: top-k revenue with both
    * dims (`load_gold_data.sql:115-128`). */
  def starTopK(spark: SparkSession, zones: LakeZones, k: Int = 10): DataFrame = {
    val fact = LakeIO.readGold(spark, zones, "fact_sales")
    val dimC = broadcast(LakeIO.readGold(spark, zones, "dim_customer"))
    val dimD = broadcast(LakeIO.readGold(spark, zones, "dim_date"))
    fact.join(dimC, "CustomerKey")
      .join(dimD, "DateKey")
      .select(col("OrderNumber"), col("CustomerName"), col("FullDate"),
        col("ItemNumber"), col("Quantity"), col("ExtendedAmount"))
      .orderBy(col("ExtendedAmount").desc, col("OrderNumber"))
      .limit(k)
  }
}
