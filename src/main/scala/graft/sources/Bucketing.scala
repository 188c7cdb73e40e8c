package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Bucketed-table plumbing for co-located joins: writing both sides of a
  * recurring equi-join bucketed (and sorted) by the join key lets Spark
  * plan a sort-merge join with NO exchange on either side — the shuffle
  * happens once at write time and is amortized over every subsequent
  * join/aggregation on that key. This is the 100 TB answer for hot join
  * keys (doc_id joins between text/metadata/embedding tables, conv_id
  * joins between transcript slices): at 10^12 rows a single avoided
  * shuffle dwarfs everything else in the plan.
  *
  * On a real cluster these are Iceberg tables with a bucket partition
  * transform (`writeTo(t).partitionedBy(bucket(n, col))`); in this
  * sandbox the Spark-native bucketed parquet table (Hive-metastore-free
  * in-memory catalog) demonstrates the identical plan shape.
  */
object Bucketing extends AdaptiveSparkPlanHelper {

  /** Write `df` as a managed bucketed table, bucketed AND sorted by
    * `cols` into `numBuckets` buckets. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int, cols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)

  /** True iff the AQE-final plan of `df` contains a shuffle exchange —
    * the property bucketed joins eliminate. */
  def hasShuffle(df: DataFrame): Boolean = {
    df.collect()
    find(df.queryExecution.executedPlan)(_.isInstanceOf[ShuffleExchangeExec]).isDefined
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
