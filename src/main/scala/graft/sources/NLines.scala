package graft.sources

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `NLineInputFormat` — exactly-N-lines-per-split parallelism control
  * (mapred/lib/NLineInputFormat.java:59): the reference's "parameter
  * sweep" pattern, where a small control file of per-task parameter
  * lines is split so every map task receives exactly N lines (the last
  * split takes the remainder), keyed by byte offset.
  *
  * Two faces, both semantics-gated:
  *   - [[splits]] — the split COMPUTATION as a relational result: one
  *     row per logical split with (begin, length, n_lines), matching
  *     the reference's FileSplit(begin, length) list line for line
  *     (readLine consumes line bytes + 1 for the LF terminator; this
  *     engine's text sinks write LF, and the reference's own
  *     getSplits assumes single-byte terminators the same way).
  *   - [[read]] — the lines themselves, placed so PARTITION i IS
  *     SPLIT i: exactly ceil(L/N) partitions, each holding its split's
  *     N lines in offset order (spec-asserted via
  *     mapPartitionsWithIndex).
  *
  * Scale: control files are SMALL BY CONTRACT — the data a sweep
  * processes arrives via the job's real inputs, not the control file —
  * and the reference itself scans the whole file single-threaded on
  * the client (getSplits' LineReader loop). Both faces number the
  * lines the same way ([[numbered]]): a distributed TextInputFormat
  * scan, a range-partitioned sort by offset and `zipWithIndex` — no
  * single-partition window anywhere (spec-asserted). The gate's point
  * is the split arithmetic, exact at control-file sizes.
  */
object NLines {

  /** (offset, line, line_bytes) via the literal old-API
    * TextInputFormat/LineRecordReader bridge — offsets are byte
    * positions of line starts, like the reference's LongWritable keys.
    * Single logical file (the reference's getSplits computes per-file;
    * run this per file for directories). */
  private def lines(spark: SparkSession, file: String) = {
    spark.sparkContext
      .hadoopFile(file, classOf[TextInputFormat], classOf[LongWritable],
        classOf[Text])
      // Writables are reused by the record reader — extract primitives
      // before the iterator advances
      .map { case (off, line) =>
        (off.get(), line.toString, line.getLength.toLong)
      }
  }

  /** [[lines]] in offset order, each with its 0-based global line
    * index — the one numbering both [[splits]] and [[read]] derive the
    * split id (index / N) from. */
  private def numbered(spark: SparkSession, file: String) =
    lines(spark, file).sortBy(_._1).zipWithIndex()

  /** The reference's getSplits as data: (split_id, begin_off,
    * length_bytes, n_lines) — FileSplit's (begin, length) in bytes, n
    * lines per split, remainder in the last. */
  def splits(spark: SparkSession, file: String, n: Int): DataFrame = {
    require(n > 0, s"linespermap must be positive, got $n")
    import spark.implicits._
    numbered(spark, file)
      .map { case ((off, _, nb), i) => (i / n, off, nb + 1L) }
      .toDF("split_id", "offset", "nb")
      .groupBy("split_id")
      .agg(min(col("offset")).as("begin_off"),
        sum(col("nb")).as("length_bytes"),
        count(lit(1)).as("n_lines"))
  }

  /** The lines with their split placement realized: partition i of the
    * result holds exactly split i's lines in offset order — the
    * "one split, one task" contract a migrating N-line job relies on.
    * Output columns: (split_id, offset, line). */
  def read(spark: SparkSession, file: String, n: Int): DataFrame = {
    require(n > 0, s"linespermap must be positive, got $n")
    import spark.implicits._
    val keyed = numbered(spark, file)
      .map { case ((off, line, _), i) => ((i / n, off), line) }
    val numSplits = math.max(1,
      ((keyed.count() + n - 1) / n).toInt)
    keyed
      // repartitionAndSortWithinPartitions, not partitionBy: the shuffle
      // read order inside a partition is fetch-dependent, and the N-line
      // contract includes offset order within the split
      .repartitionAndSortWithinPartitions(new Partitioner {
        override def numPartitions: Int = numSplits
        override def getPartition(key: Any): Int =
          key.asInstanceOf[(Long, Long)]._1.toInt
      })
      .map { case ((sid, off), line) => (sid, off, line) }
      .toDF("split_id", "offset", "line")
  }
}
