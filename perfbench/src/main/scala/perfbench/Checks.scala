package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. They run outside every timed span; a failed check
  * throws [[CheckFailed]] naming what differed. */
object Checks {
  final class CheckFailed(msg: String) extends RuntimeException(msg)

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")

  /** What the warehouse must hold after loading some landing batches. */
  final case class Expected(orderLines: Long, sdaexpCents: BigInt, customers: Long,
                            versions: Long)

  /** Gold after a pipeline run: one fact row per landed order line,
    * Σ ExtendedAmount = Σ SDAEXP / 100 exactly, SalesKey unique and
    * contiguous from 1, one active dimension version per customer, and
    * dimension rows = customers + changed versions. */
  def pipeline(spark: SparkSession, lakeRoot: String, e: Expected): Unit = {
    val fact = spark.read.parquet(s"$lakeRoot/gold/fact_sales")
    val f = fact.agg(count(lit(1)), sum(col("ExtendedAmount")), min(col("SalesKey")),
      max(col("SalesKey")), count_distinct(col("SalesKey"))).head()
    expect("fact rows", f.getLong(0), e.orderLines)
    expect("sum ExtendedAmount", BigDecimal(f.getDecimal(1)),
      BigDecimal(e.sdaexpCents) / 100)
    expect("min SalesKey", f.getLong(2), 1L)
    expect("max SalesKey", f.getLong(3), e.orderLines)
    expect("distinct SalesKey", f.getLong(4), e.orderLines)
    val dim = spark.read.parquet(s"$lakeRoot/gold/dim_customer")
    val perCustomer = dim.groupBy(col("CustomerID"))
      .agg(sum(when(col("IsActive"), 1).otherwise(0)).as("active"))
    val d = perCustomer.agg(count(lit(1)),
      count(when(col("active") =!= 1, lit(1)))).head()
    expect("customers", d.getLong(0), e.customers)
    expect("customers without exactly one active version", d.getLong(1), 0L)
    expect("dimension rows", dim.count(), e.customers + e.versions)
  }

  /** Row count and an order-insensitive content hash of a query result.
    * Floating-point values are compared to 6 significant digits (and
    * magnitudes below 1e-9 as zero), arrays as sorted multisets, so
    * partition order and summation order do not change the hash. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val row = to_json(struct(df.schema.fields.toSeq.map(f =>
      canonical(col(s"`${f.name}`"), f.dataType).as(f.name)): _*))
    val r = df.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.5e", when(abs(d) < 1e-9, lit(0.0)).otherwise(d))
    case ArrayType(et, _) =>
      array_sort(transform(c, x => canonical(x, et)))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c.cast(StringType)
  }
}
