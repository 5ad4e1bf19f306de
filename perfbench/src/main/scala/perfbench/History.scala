package perfbench

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Many days of `Generate.dailyBatch` output in one Spark plan.
  *
  * `Generate` takes the day's seed and window as literals, so every day is
  * a separately planned and compiled job; a hundred days of history that
  * way cost more than the benchmark's whole run. Here the seed and window
  * are columns, so all days share one plan. The hashes see the same values
  * with the same types, so each day's rows are the ones `Generate` gives
  * for that day's registry max; `Daily` checks one day against
  * `Generate.dailyBatch` after set-up.
  *
  * Each history day goes to one staging file and one registry file.
  */
final case class HistoryDay(day: Int, seed: Long, window: String, maxId: Long,
    canReturn: Int, usersNeeded: Int)

object History {
  /** Per-day registry bookkeeping, as `Generate.dailyCustomerIds` does it. */
  def plan(days: Seq[(Int, Long, String)], newUsers: Int, returningUsers: Int): Seq[HistoryDay] = {
    var maxId = 0L
    days.map { case (day, seed, window) =>
      val canReturn = math.min(returningUsers.toLong, maxId).toInt
      val needed = newUsers + (returningUsers - canReturn)
      val d = HistoryDay(day, seed, window, maxId, canReturn, needed)
      maxId += needed
      d
    }
  }

  private def hmod(n: Int, tag: String, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(tag) :+ col("seed")): _*), lit(n.toLong))

  /** (transactions, new registry ids), each with a `day` column. */
  def frames(spark: SparkSession, days: Seq[HistoryDay]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val p = days.toDF()
    val cid = col("CustomerID")
    val returning = spark.range(1, days.map(_.maxId).max + 1).select(col("id").as("CustomerID"))
      .join(broadcast(p), cid <= col("maxId"))
      .withColumn("rank", row_number().over(Window.partitionBy("day")
        .orderBy(hmod(1 << 30, "sample", cid), cid)))
      .filter(col("rank") <= col("canReturn"))
      .drop("rank")
    val fresh = p
      .withColumn("CustomerID", explode(sequence(col("maxId") + 1, col("maxId") + col("usersNeeded"))))
    val n = col("purchase_n")
    val cumGap = when(n === 1, lit(0L)).otherwise(
      aggregate(sequence(lit(2), n), lit(0L),
        (acc, j) => acc + lit(20L) + hmod(80, "gap", cid, j)))
    val txns = returning.unionByName(fresh)
      .withColumn("n_purchases", (hmod(14, "npurch", cid) + 1).cast(IntegerType))
      .withColumn("session_offset_s", hmod(86400, "session", cid))
      .select(col("day"), col("seed"), col("window"), cid, col("session_offset_s"),
        posexplode(sequence(lit(1), col("n_purchases"))))
      .withColumnsRenamed(Map("pos" -> "p", "col" -> "purchase_n"))
      .withColumn("Quantity", (hmod(4, "qty", cid, n) + 1).cast(IntegerType))
      .withColumn("UnitPrice",
        round(lit(5.0) + hmod(9500, "price", cid, n).cast("double") / 100.0, 2))
      .withColumn("order_timestamp",
        timestamp_add("SECOND", (col("session_offset_s") + cumGap).cast(IntegerType),
          to_timestamp(col("window"))))
      .withColumn("TotalPurchase", col("Quantity") * col("UnitPrice"))
      .select(col("day"), cid.cast(LongType).as("CustomerID"), col("Quantity"),
        col("UnitPrice"), col("order_timestamp"), col("TotalPurchase"))
    (txns, fresh.select(col("day"), cid))
  }

  /** Appends `df` (minus its leading `day` column) to `path`, one file per
    * day of `days` days. */
  def appendByDay(df: DataFrame, days: Int, path: String): Unit = {
    val body = df.drop("day")
    val rows = df.rdd.map(r => (r.getInt(0), Row.fromSeq(r.toSeq.tail)))
      .partitionBy(new HashPartitioner(days)).values
    df.sparkSession.createDataFrame(rows, body.schema).write.mode("append").parquet(path)
  }
}
