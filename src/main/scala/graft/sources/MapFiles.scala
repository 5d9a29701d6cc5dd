package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** MapFile — the reference's sorted, indexed K/V store and its partitioned
  * point lookup (io/MapFile.java; `MapFileOutputFormat.getEntry`,
  * mapred/MapFileOutputFormat.java:39,96-115: hash the key to pick the
  * partition's MapFile, then binary-search its index).
  *
  * Spark-native layout: a bucketed, per-bucket-sorted parquet table
  * (`bucketBy(n, key).sortBy(key)`) is the same physical contract —
  * hash-partitioned files, keys sorted inside each, with parquet
  * row-group min/max + optional bloom filters playing the MapFile index.
  *
  * [[getEntry]] is the reference lookup re-expressed as pruning: the
  * bucketed-scan rule keeps ONLY the key's bucket (1 of n file groups —
  * `getEntry`'s `partitioner.getPartition` step), and the pushed `key = k`
  * predicate lets parquet skip row groups by min/max stats (the index
  * seek). At 100 TB a point probe touches one bucket's files and, within
  * them, only the row groups whose range covers the key — no job-wide
  * scan, no shuffle. */
object MapFiles {

  /** Persist the MapFile layout: `buckets` hash buckets, each sorted by
    * `keyCol` (MapFileOutputFormat.getRecordWriter's sorted writer).
    * Always parquet, whatever `spark.sql.sources.default` says: the
    * key bloom filter and the driver-side sidecar reader
    * ([[SidecarRead]]) both assume it. */
  def write(df: DataFrame, keyCol: String, buckets: Int,
      table: String): Unit = {
    require(!table.contains("."),
      "MapFiles tables are unqualified names in the current database " +
      s"(got '$table')")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    clearStaleLocation(spark, table)
    df.write.format("parquet").mode("overwrite")
      .option("parquet.bloom.filter.enabled#" + keyCol, "true")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)
  }

  /** The bucket layout [[write]] gave `table`, from the catalog — None
    * when the table is absent or not bucketed. */
  private def layoutOf(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    if (!spark.catalog.tableExists(table)) None
    else spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec

  /** `table`'s bucket count — 1 when it is absent or unbucketed (a
    * first sidecar creation). */
  private[graft] def bucketsOf(spark: SparkSession, table: String): Int =
    layoutOf(spark, table).map(_.numBuckets).getOrElse(1)

  /** Land `df` as new files in the layout [[write]] gave `table` — the
    * one append of every persisted tier: bucket count, bucket column
    * and sort column come from the catalog, so rows hash into the
    * existing buckets and probes keep bucket pruning across write
    * generations. Always parquet (like [[write]]), with a bloom filter
    * on the bucket column, and on `batch_key` when the frame carries
    * it (the replay probe's footer-level skip). The stored side is
    * never read; one file rename per written file is the commit. */
  private[graft] def append(df: DataFrame, table: String): Unit = {
    val spec = layoutOf(df.sparkSession, table).getOrElse(
      throw new IllegalStateException(
        s"$table is not a bucketed MapFiles table"))
    val key = spec.bucketColumnNames.head
    val w = df.write.format("parquet").mode("append")
      .option("parquet.bloom.filter.enabled#" + key, "true")
    if (df.columns.contains("batch_key"))
      w.option("parquet.bloom.filter.enabled#batch_key", "true")
    val bucketed = w.bucketBy(spec.numBuckets, key,
      spec.bucketColumnNames.tail.toSeq: _*)
    (spec.sortColumnNames.toList match {
      case s :: rest => bucketed.sortBy(s, rest: _*)
      case Nil => bucketed
    }).saveAsTable(table)
  }

  /** Point-probe queries only prune buckets when the scan stays bucketed:
    * Spark's DisableUnnecessaryBucketedScan rule trades the bucketed
    * layout for plain codegen scans when it sees no join/agg downstream —
    * which also silently discards bucket PRUNING. For MapFile-style point
    * reads the layout IS the index, so lookups plan against a dedicated
    * child session (shared SparkContext + catalog, private SQLConf) with
    * the auto rule off. The caller's session conf is never touched — a
    * set-and-restore there cannot work because lazily-executed frames
    * read the execution-time conf, and a permanent set would silently
    * de-optimize unrelated bucketed scans session-wide. */
  private val lookupSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def lookupSession(spark: SparkSession): SparkSession =
    lookupSessions.synchronized {
      var s = lookupSessions.get(spark)
      if (s == null) {
        s = spark.newSession()
        s.conf.set(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        lookupSessions.put(spark, s)
      }
      // permanent tables ride the shared external catalog; only the
      // database pointer needs mirroring
      if (s.catalog.currentDatabase != spark.catalog.currentDatabase)
        s.catalog.setCurrentDatabase(spark.catalog.currentDatabase)
      s
    }

  /** The child session's table frame, cache-refreshed: a rewrite through
    * the CALLER's session (write → DROP TABLE) invalidates only the
    * caller's relation cache — the child session would keep serving the
    * replaced table's stale file listing (FAILED_READ_FILE on the next
    * probe). One refresh per probe = one directory listing, noise next
    * to the read itself.
    *
    * Contract: `table` must be a CATALOG table (what [[write]] creates).
    * Session-scoped temp views are not visible from the child session —
    * they also lack the bucketed layout this whole lookup path exists
    * to exploit. */
  private def lookupTable(spark: SparkSession, table: String): DataFrame = {
    val s = lookupSession(spark)
    s.catalog.refreshTable(table)
    s.table(table)
  }

  /** A write-generation id no prior (possibly crashed) attempt can
    * have used — the retry-safety primitive of the persisted-index
    * maintenance protocol (BM25 `appendBm25Index`, ADC
    * `appendIvfAdcIndexSharded`): a failed append's orphan rows stay
    * invisible forever because the retry commits under a FRESH id (a
    * deterministic sequence would re-collide with the orphan and
    * double-count the batch once committed). The value never reaches
    * any result — probes only test membership in the committed set —
    * so it carries no determinism exposure. Never 0, the build
    * generation. */
  def freshGen(): Long = math.abs(System.nanoTime()) | 1L

  /** An in-memory catalog restarts empty while its warehouse directory
    * survives on disk; creating a table at that name then refuses the
    * stale location (LOCATION_ALREADY_EXISTS). Clear the orphan dir —
    * only when the CATALOG doesn't know the table (a known table's dir
    * is live data). Resolve the database's real location from the
    * catalog (honors CREATE DATABASE ... LOCATION) rather than
    * deriving it from the warehouse conf. Used by [[write]] and by
    * create-on-first-append side tables (index tombstones). */
  def clearStaleLocation(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(table)) return
    val db = spark.catalog.currentDatabase
    val parent = new org.apache.hadoop.fs.Path(
      new java.net.URI(spark.catalog.getDatabase(db).locationUri))
    val loc = new org.apache.hadoop.fs.Path(parent, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** The table read through the bucketed-scan-preserving child session:
    * the scan keeps one partition per bucket even with no join
    * downstream (the auto rule would otherwise trade the layout for
    * plain splits). This is what lets a bucket-aligned REWRITE — index
    * compaction — stream bucket i straight into file i with ZERO
    * shuffle: the scan's hash partitioning already satisfies the
    * bucketed sink's distribution, so the rewrite plans exchange-free
    * and lands exactly one file per bucket. */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    lookupTable(spark, table)

  /** Point lookup — `MapFileOutputFormat.getEntry`: all rows for `key`,
    * with the predicate pushed to the scan. The ROWS come from exactly
    * one bucket's files; the TASKS do not shrink with them — the
    * bucketed scan still plans one task per bucket, and all but one
    * read nothing (16 tasks, 15 of them empty, on a 16-bucket table). */
  def getEntry(spark: SparkSession, table: String, keyCol: String,
      key: Any): DataFrame =
    lookupTable(spark, table).filter(col(keyCol) === lit(key))

  /** Batched point lookups (IN-list) — still bucket-pruned: rows are
    * read only from the buckets holding any of the probed keys, while
    * the scan keeps one task per bucket (the pruned ones run empty). */
  def getEntries(spark: SparkSession, table: String, keyCol: String,
      keys: Seq[Any]): DataFrame =
    lookupTable(spark, table).filter(col(keyCol).isin(keys: _*))

  /** The row cap of [[probeSide]]'s query snapshot: a serving batch is
    * tens of rows; 65,536 rows of 64-float vectors are ~16 MB. */
  private val snapshotRows = 65536

  /** A tier's own packing of its probe rows: `rows` is the driver twin
    * of the plan kernels `planned` applies, mapping one snapshot row to
    * its packed rows of `schema`. */
  private[graft] final case class Packing(schema: StructType,
      rows: Row => Iterator[Row], planned: DataFrame => DataFrame)

  /** The probe side of every persisted probe (ADC, BM25, phrase) — the
    * one place that decides which stored keys a probe may touch, the
    * `getEntries` step of `MapFileOutputFormat.getEntry`
    * (mapred/MapFileOutputFormat.java:96-115) for a whole query batch.
    * Returns `(probes, restricted)`: the probe rows and `stored`
    * restricted to the keys they carry in `keyCols` (default `key`).
    *
    *   - SNAPSHOT: a batch `side` gets ONE bounded collect. At or under
    *     65,536 rows it is packed on the driver (`packing.rows`, none =
    *     as is) into a local relation — the probe rows and the key set
    *     come from one materialization, so a nondeterministic source
    *     cannot diverge between them, and the collect is the probe's
    *     one construction job. Over the cap the planned side is lazily
    *     checkpointed and its keys come from one capped distinct
    *     collect, which fills the checkpoint.
    *   - STREAMING: a streaming side cannot be collected; it alone
    *     keeps the plan-side probe (`packing.planned`) over the
    *     unrestricted stored side.
    *   - PUSHDOWN: at or under `keyCap` distinct keys the sorted key
    *     set is an `In` filter that reaches the stored scan — bucket
    *     pruning, the key bloom filter and sorted min/max skip what no
    *     probe can reach.
    *   - FALLBACK: above `keyCap`, a broadcast left-semi join on the key
    *     column — no huge In list, the stored side is never shuffled,
    *     and what follows the restriction (BM25's df window) still sees
    *     only probed keys.
    *
    * Both restrictions are result-identical: a stored row whose key no
    * probe carries can never join. Probes hold no table lock; this is
    * where a snapshot-pinned read would fix the file set. */
  private[graft] def probeSide(side: DataFrame, stored: DataFrame,
      key: String, keyCap: Int, keyCols: Seq[String] = Nil,
      packing: Option[Packing] = None): (DataFrame, DataFrame) = {
    val kc = if (keyCols.isEmpty) Seq(key) else keyCols
    val planned = packing.fold(side)(_.planned(side))
    if (side.isStreaming) return (planned, stored)
    val rows = side.limit(snapshotRows + 1).collect()
    val (probes, keys) =
      if (rows.length <= snapshotRows) {
        val schema = packing.fold(side.schema)(_.schema)
        val packed = packing.fold(rows)(p => rows.flatMap(p.rows))
        val at = kc.map(schema.fieldIndex)
        (side.sparkSession.createDataFrame(
            java.util.Arrays.asList(packed: _*), schema),
          packed.iterator.flatMap(r => at.iterator.map(r.get))
            .distinct.take(keyCap + 1).toSeq)
      } else {
        val cp = planned.localCheckpoint(false)
        (cp, keysOf(cp, kc, key).limit(keyCap + 1).collect()
          .map(_.get(0)).toSeq)
      }
    (probes,
      if (keys.length <= keyCap)
        stored.filter(col(key).isInCollection(keys.sortWith(
          (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)))
      else stored.join(broadcast(keysOf(probes, kc, key)), Seq(key),
        "left_semi"))
  }

  /** The distinct values of `probes`' key columns, as `key`. */
  private def keysOf(probes: DataFrame, keyCols: Seq[String], key: String)
      : DataFrame =
    probes.select(explode(array(keyCols.map(col): _*)).as(key)).distinct()

  /** SetFile (io/SetFile.java:27) — a MapFile holding keys only. The
    * layout is the distinct sorted key set; [[containsKey]] is the
    * membership probe, bucket-pruned like [[getEntry]]. */
  def writeSet(df: DataFrame, keyCol: String, buckets: Int,
      table: String): Unit =
    write(df.select(keyCol).distinct(), keyCol, buckets, table)

  /** SetFile membership probe — reads rows from one bucket (the scan
    * still runs one task per bucket, the others empty), and inside it
    * the bloom filter + min/max stats answer most negatives from
    * metadata. */
  def containsKey(spark: SparkSession, table: String, keyCol: String,
      key: Any): Boolean =
    !getEntry(spark, table, keyCol, key).isEmpty

  /** ArrayFile (io/ArrayFile.java:29) — values addressed by their long
    * append position. The index derives from the frame's current row
    * order (the ArrayFile contract IS append order; fix the order
    * upstream with sort/coalesce if it must be stable), then the rows are
    * persisted in the MapFile layout keyed by `idx`.
    *
    * Kept fully in Catalyst: `monotonically_increasing_id` encodes
    * (partition << 33 | position-within-partition); one tiny job collects
    * the per-partition row counts (O(num partitions), the same extra pass
    * zipWithIndex would make) and the global index is then pure offset
    * arithmetic — idx = cumulative_offset[p] + within-partition position
    * — so the write plan stays native (codegen + AQE), no RDD round-trip.
    * Like zipWithIndex, the source is evaluated twice; both passes see
    * the same order for deterministic inputs. */
  def writeArray(df: DataFrame, buckets: Int, table: String): Unit = {
    val mid = "_mapfile_mid"
    val withMid = df.withColumn(mid, monotonically_increasing_id())
    val counts = withMid
      .groupBy(shiftright(col(mid), 33).as("p"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty) {
      write(df.withColumn("idx", lit(0L)).select(
        col("idx") +: df.columns.map(col): _*), "idx", buckets, table)
      return
    }
    // idx = cum[p] + (mid - (p << 33)); fold the partition-base term into
    // the per-partition constant so the row expression is one map lookup
    // plus one add
    var cum = 0L
    val adjusted = counts.map { case (p, c) =>
      val base = cum - (p << 33); cum += c; (p, base)
    }.toMap
    val indexed = withMid
      .withColumn("idx",
        element_at(typedLit(adjusted), shiftright(col(mid), 33)) + col(mid))
      .select(col("idx") +: df.columns.map(col): _*)
    write(indexed, "idx", buckets, table)
  }

  /** ArrayFile.get(n): the n-th appended row (bucket-pruned point read). */
  def getNth(spark: SparkSession, table: String, n: Long): DataFrame =
    getEntry(spark, table, "idx", n)

  /** The smallest row with key >= `key` — MapFile.Reader.getClosest
    * (io/MapFile.java, the seek primitive getEntry is built on). A range
    * probe cannot bucket-prune (hash buckets scatter the order), but the
    * pushed >= predicate skips row groups by min/max stats and the plan
    * is a TakeOrderedAndProject — per-partition top-1, no global sort. */
  def getClosest(spark: SparkSession, table: String, keyCol: String,
      key: Any): DataFrame =
    spark.table(table).filter(col(keyCol) >= lit(key))
      .orderBy(col(keyCol)).limit(1)
}
