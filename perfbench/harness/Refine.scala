package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dq.DqChecks
import graft.pii.Masking

/** The refine steps every workload shares: the DQ metric batch over the
  * orders table and the role-masked view analysts read. */
object Refine {

  /** Completeness/validity metrics of the orders table (the reference's
    * DQ task), stamped with the time they were computed. */
  def dqMetrics(orders: DataFrame, at: Timestamp): DataFrame =
    DqChecks.metricsBatch(orders, "orders", Seq(
      "email_present" -> col("email").isNotNull,
      "phone_present" -> col("phone").isNotNull,
      "address_present" -> col("address").isNotNull,
      "known_brand" -> (col("brand") =!= "UNKNOWN"),
      "days_in_range" -> col("days").between(1, 7)))
      .withColumn("computed_at", lit(at))

  /** Alert thresholds of the DQ dashboard. */
  def thresholds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("email_present", 0.75), ("phone_present", 0.75), ("address_present", 0.5),
      ("known_brand", 0.95), ("days_in_range", 1.0)).toDF("metric_name", "threshold")
  }

  /** The orders as a role sees them: PII columns through the masking
    * policy, everything else in clear. */
  def masked(orders: DataFrame, role: String): DataFrame =
    orders.select(col("txid"), col("brand"), col("car_model"), col("sell_price"),
      col("purchase_time"),
      Masking.maskPan(col("name"), role).as("name"),
      Masking.maskPan(col("phone"), role).as("phone"),
      Masking.maskPan(col("email"), role).as("email"))
}
