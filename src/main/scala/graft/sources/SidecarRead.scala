package graft.sources

import org.apache.spark.sql.SparkSession

/** Driver-side reads of the tiny PROTOCOL SIDECAR tables (`_g`, `_sh`,
  * `_serve`, `_s`): the same crash-healed part files a Spark collect
  * would scan ([[graft.pipeline.MergeTables.freshFileStatuses]] — heal
  * + one listing of the catalog location), decoded on the driver with
  * the parquet Group API instead of through a Spark job.
  *
  * Why: every persisted-index PROBE construction resolves its protocol
  * state (active epoch, shard layout, committed generations, stored
  * serving dials, corpus scalars) from tables that are BOUNDED BY THE
  * PROTOCOL, not the corpus (a handful of rows under the compaction
  * contract). A Spark job per read costs a full plan + schedule + task
  * round-trip (~0.1 s on local[32]); the driver-side read has IDENTICAL
  * freshness semantics: the listing is re-taken per call, so a foreign
  * append/retrain/compaction is seen exactly as the job form saw it.
  * No cache above this layer outlives a call.
  *
  * Decoded once: part files are immutable and uuid-named (every
  * mutation under the write/append/compact protocol adds or replaces
  * files, never rewrites one), so a file's rows are memoized under
  * (path, length, mtime) and only files new to the listing are decoded
  * — a parquet footer-and-rows decode of a one-row file costs more than
  * the listing itself. The memo keeps, per table, only the files of its
  * latest listing: a file that leaves the listing is never served again
  * and its rows are released at the next read.
  *
  * Scope: flat primitive schemas only (long/int/double/string/boolean —
  * exactly what the protocol sidecars hold). NEVER used for data tables,
  * centroid tables (array column), or anything corpus-sized. */
object SidecarRead {

  /** One decoded sidecar row: field name → JVM value (Long, Int,
    * Double, String, Boolean); absent/null fields are absent from the
    * map. `fields` is the file-schema field-name set (presence checks —
    * the schema-evolution probes `contains("rsgen")` etc. need it even
    * when the column is null on every row). `table` and `file` name the
    * row's source, so a missing or mistyped field fails naming all
    * three instead of as a bare map lookup. */
  final case class Row(values: Map[String, Any], fields: Set[String],
      table: String, file: String) {
    private def value(f: String): Any = values.getOrElse(f,
      throw new IllegalStateException(
        if (fields.contains(f)) s"$table ($file): field '$f' is null"
        else s"$table ($file): no field '$f' (fields: " +
          fields.toSeq.sorted.mkString(", ") + ")"))
    private def mistyped(f: String, want: String, x: Any) =
      new IllegalStateException(s"$table ($file): field '$f' is " +
        s"${x.getClass.getSimpleName} $x, expected $want")
    def getLong(f: String): Long = value(f) match {
      case l: Long => l
      case i: Int  => i.toLong
      case x       => throw mistyped(f, "long", x)
    }
    def getInt(f: String): Int = value(f) match {
      case i: Int  => i
      case l: Long => l.toInt
      case x       => throw mistyped(f, "int", x)
    }
    def getDouble(f: String): Double = value(f) match {
      case d: Double => d
      case f2: Float => f2.toDouble
      case x         => throw mistyped(f, "double", x)
    }
    def getString(f: String): String = value(f) match {
      case s: String => s
      case x         => throw mistyped(f, "string", x)
    }
  }

  /** (path, length, mtime) of one listed part file. */
  private type FileKey = (String, Long, Long)

  /** Per table (qualified by the session's current database): the
    * decoded rows of each file of its latest listing. */
  private val decoded = new java.util.concurrent.ConcurrentHashMap[
    String, Map[FileKey, Seq[Row]]]()

  /** All rows of `table`, crash-healed and freshly listed, decoded
    * driver-side — only the files this table's previous read did not
    * list. Throws if the table does not exist (callers check
    * `tableExists` first, as the job form did). Row order is
    * file-sorted then row-group order — NOT a contract; callers reduce
    * (max/find) or sort, exactly like the collect form's callers. */
  def rows(spark: SparkSession, table: String): Seq[Row] = {
    val files = graft.pipeline.MergeTables.freshFileStatuses(spark, table)
      .map { case (p, st) => (p, st.getLen, st.getModificationTime) }
    val key = memoKey(spark, table)
    val prev = Option(decoded.get(key)).getOrElse(Map.empty)
    val now =
      files.map(f => f -> prev.getOrElse(f, readFile(spark, table, f._1)))
    decoded.put(key, now.toMap)
    now.flatMap(_._2)
  }

  /** The paths the memo holds for `table` — its latest listing's. */
  private[graft] def memoizedFiles(spark: SparkSession, table: String)
      : Set[String] =
    Option(decoded.get(memoKey(spark, table)))
      .fold(Set.empty[String])(_.keySet.map(_._1))

  private def memoKey(spark: SparkSession, table: String): String =
    spark.catalog.currentDatabase + "." + table

  private def readFile(spark: SparkSession, table: String,
      file: String): Seq[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .build()
    try {
      val out = scala.collection.mutable.ArrayBuffer[Row]()
      var g = reader.read()
      while (g != null) {
        val t = g.getType
        val names = (0 until t.getFieldCount)
          .map(i => t.getFieldName(i)).toSet
        val vals = (0 until t.getFieldCount).flatMap { i =>
          val f = t.getType(i)
          if (!f.isPrimitive || g.getFieldRepetitionCount(i) == 0) None
          else {
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            val name = t.getFieldName(i)
            f.asPrimitiveType().getPrimitiveTypeName match {
              case INT64   => Some(name -> g.getLong(i, 0))
              case INT32   => Some(name -> g.getInteger(i, 0))
              case DOUBLE  => Some(name -> g.getDouble(i, 0))
              case FLOAT   => Some(name -> g.getFloat(i, 0))
              case BOOLEAN => Some(name -> g.getBoolean(i, 0))
              case BINARY  => Some(name -> g.getString(i, 0))
              case _       => None // sidecars hold no INT96/FIXED
            }
          }
        }.toMap
        out += Row(vals, names, table, file)
        g = reader.read()
      }
      out.toSeq
    } finally reader.close()
  }
}
