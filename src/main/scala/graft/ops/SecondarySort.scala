package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Secondary sort: values ordered within each key group — the reference's
  * composite-key + FirstPartitioner + FirstGroupingComparator pattern
  * (examples/SecondarySort.java:57-192). In Spark the partition-by-prefix /
  * order-by-full-key trick is a window specification; there is no custom
  * partitioner or comparator to write, and the single shuffle it costs is
  * hash-partitioned on the group key exactly like the reference's
  * FirstPartitioner.
  */
object SecondarySort {

  /** Rows with a per-group ascending rank by `orderCols`. */
  def ranked(df: DataFrame, groupCol: Column, orderCols: Column*): DataFrame =
    df.withColumn("rn",
      row_number().over(Window.partitionBy(groupCol).orderBy(orderCols: _*)))
}
