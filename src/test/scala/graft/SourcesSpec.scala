package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.PipeOps
import graft.sources.{JdbcRoundTrip, TextFormats}

class TextFormatsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("key/value text roundtrip splits at the FIRST separator only") {
    val path = tmpDir("textspec")
    val df = Seq(("k1", "a\tb"), ("k2", "plain")).toDF("k", "v")
    TextFormats.writeKeyValueText(df, col("k"), col("v"), path)
    val back = TextFormats.readKeyValueText(spark, path)
      .as[(String, String)].collect().toSet
    // value keeps its embedded tab — limit-2 split, like the reference
    assert(back == Set(("k1", "a\tb"), ("k2", "plain")))
  }

  test("gzip- and bzip2-compressed text roundtrip transparently") {
    val rows = (1 to 50).map(i => (s"k$i", s"value $i")).toSet
    for ((codec, ext) <- Seq(("gzip", ".gz"), ("bzip2", ".bz2"))) {
      val path =
        tmpDir(s"text_$codec")
      TextFormats.writeKeyValueText(rows.toSeq.toDF("k", "v"),
        col("k"), col("v"), path, compression = codec)
      // the codec really engaged (files carry its extension)...
      val parts = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty && parts.forall(_.getName.endsWith(ext)))
      // ...and the bytes decode back to the exact rows
      val back = TextFormats.readKeyValueText(spark, path)
        .as[(String, String)].collect().toSet
      assert(back == rows, s"$codec roundtrip mismatch")
    }
  }

  // BloomMapFile (io/BloomMapFile.java:45 — MapFile + bloom filter for
  // fast negative key probes) → Parquet per-column bloom filters: the
  // same capability at the row-group level, declared at write time and
  // used by the reader to skip row groups on point predicates.
  test("parquet bloom filter on the key column: declared, written, readable") {
    val path = tmpDir("bloom")
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    df.repartition(2).write
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "1000")
      .parquet(path)
    val back = spark.read.parquet(path)
    // point probes behave identically with the bloom metadata present
    assert(back.filter(col("k") === 500L).count() == 1)
    assert(back.filter(col("k") === 5000L).count() == 0)
    // and the filter is pushed to the scan, where the bloom applies
    val plan = back.filter(col("k") === 500L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,500)"),
      s"expected pushed point predicate in:\n$plan")
  }
}

class TableNormalizationSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("documents/embeddings loaders pin long ids and float vectors across a drifted regeneration") {
    // the r10 lesson generalized: write the two pipeline tables in the
    // LEGAL-but-different physical types a regeneration could choose
    // (int ids, float64 vectors) and assert the loaders normalize to
    // the downstream contract instead of analysis-erroring the tier
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val dir = SparkTest.tmpDir("tblnorm")
    Seq((1, "alpha beta", "s1"), (2, "gamma", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1, Array(0.25d, -1.5d)), (2, Array(0.75d, 2.0d)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val docs = Tables.documents(spark, dir)
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    val vecs = Tables.embeddings(spark, dir)
    assert(vecs.schema("vec_id").dataType == LongType)
    assert(vecs.schema("embedding").dataType == ArrayType(FloatType))
    val row = vecs.filter(col("vec_id") === 1L)
      .select("embedding").as[Array[Float]].head()
    assert(row.toSeq == Seq(0.25f, -1.5f)) // exact: both representable
  }
}

class CombineFilesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  // MultiFileInputFormat/CombineFileInputFormat (mapred/MultiFileInputFormat
  // .java:42): many small files pack into few splits. Spark's FilePartition
  // bin-packing (maxPartitionBytes/openCostInBytes) is the same machinery —
  // assert it actually engages, so a 100 TB directory of small files does
  // not explode into one task per file.
  test("64 tiny files bin-pack into a handful of scan partitions") {
    val path = tmpDir("combine")
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(64).write.parquet(path)
    val files = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 32, s"expected many small files, got $files")
    val parts = spark.read.parquet(path).rdd.getNumPartitions
    assert(parts <= 8, s"$files files should pack into <=8 partitions, got $parts")
  }
}

class SequenceFilesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("Text/Text SequenceFile roundtrip through the Hadoop bridge") {
    val path = tmpDir("seq")
    val df = Seq(("k1", "v with\ttab"), ("k2", "v2"), ("k3", ""))
      .toDF("key", "value")
    graft.sources.SequenceFiles.write(df, "key", "value", path)
    // the files on disk really are SequenceFiles (magic header "SEQ")
    val part = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val magic = new Array[Byte](3)
    val in = new java.io.FileInputStream(part)
    try in.read(magic) finally in.close()
    assert(new String(magic, "US-ASCII") == "SEQ")
    val back = graft.sources.SequenceFiles.read(spark, path)
      .as[(String, String)].collect().toSet
    assert(back == Set(("k1", "v with\ttab"), ("k2", "v2"), ("k3", "")))
  }

  test("SequenceFileAsBinary roundtrip hands back exact raw bytes") {
    // mapred/SequenceFileAsBinaryInputFormat.java:38 /
    // ...OutputFormat.java:42 — the K/V pairs are OPAQUE bytes. Hostile
    // payloads: 0x00, 0xFF, LF/CR, UTF-8-invalid sequences, empty — any
    // charset conversion or buffer aliasing in the path corrupts them.
    val path = tmpDir("seqbin")
    val rows: Seq[(Array[Byte], Array[Byte])] = Seq(
      Array[Byte](1) -> Array[Byte](0, -1, 10, 13, -128),
      Array[Byte](2) -> Array.emptyByteArray,
      Array[Byte](3) -> Array.fill[Byte](300)(-2), // > BytesWritable's pad
      Array[Byte](4, 0, 4) -> Array[Byte](-61))    // truncated UTF-8 pair
    val df = rows.toDF("key", "value")
    graft.sources.SequenceFiles.writeBinary(df, "key", "value", path)
    val part = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val head = java.nio.file.Files.readAllBytes(part.toPath).take(128)
    assert(new String(head, "ISO-8859-1").contains("BytesWritable"),
      "container must declare BytesWritable K/V types")
    val back = graft.sources.SequenceFiles.readBinary(spark, path)
      .as[(Array[Byte], Array[Byte])].collect()
      .map { case (k, v) => (k.toSeq, v.toSeq) }.toSet
    assert(back == rows.map { case (k, v) => (k.toSeq, v.toSeq) }.toSet)
  }

  test("compressed roundtrips: gzip BLOCK / bzip2 RECORD / deflate") {
    val rows = (1 to 200).map(i => (s"k$i", s"value_$i " * 5)).toSet
    val df = rows.toSeq.toDF("key", "value")
    for ((codec, ctype, marker) <- Seq(
        ("gzip", "BLOCK", "GzipCodec"),
        ("bzip2", "RECORD", "BZip2Codec"),
        ("deflate", "BLOCK", "DefaultCodec"))) {
      val path = tmpDir(s"seq_${codec}_$ctype")
      graft.sources.SequenceFiles.write(df, "key", "value", path,
        codec = codec, compressionType = ctype)
      // the header really names the codec (proves compression engaged)
      val part = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("part-")).head
      val head = java.nio.file.Files.readAllBytes(part.toPath).take(256)
      assert(new String(head, "ISO-8859-1").contains(marker),
        s"$codec header missing $marker")
      val back = graft.sources.SequenceFiles.read(spark, path)
        .as[(String, String)].collect().toSet
      assert(back == rows, s"$codec/$ctype roundtrip mismatch")
    }
  }
}

class MultipleInputsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  // MultipleInputs + DelegatingMapper (mapred/lib/MultipleInputs.java:34):
  // each path gets its own InputFormat AND its own Mapper, outputs merge
  // into one job. Spark-native: per-source read + per-source transform to
  // a common schema, then unionByName.
  test("heterogeneous sources, per-source mappers, one union") {
    val tmp = tmpDir("minputs")
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .write.parquet(s"$tmp/pq")
    Seq("3|GAMMA", "4|DELTA").toDF("line")
      .write.text(s"$tmp/txt")
    val fromParquet = spark.read.parquet(s"$tmp/pq") // already (id, name)
    val fromText = spark.read.text(s"$tmp/txt")      // needs its own mapper
      .select(split(col("value"), "\\|").as("f"))
      .select(col("f").getItem(0).cast("long").as("id"),
        lower(col("f").getItem(1)).as("name"))
    val unioned = fromParquet.unionByName(fromText)
    assert(unioned.as[(Long, String)].collect().toSet ==
      Set((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")))
  }
}

class TmpSinksSpec extends AnyFunSuite with SparkTest {
  private val d = "/root/testdata/sf0.001"

  // q63 and qe5 key their tmp sinks by source dir too; the cleanup
  // sweep must find them like every other sink of the application, and
  // q63's write-once fixture guard must not outlive the fixture
  test("cleanupTmpSinks removes every tmp sink of the application, q63 and qe5 included; q63 rewrites its fixture afterwards") {
    val appId = spark.sparkContext.applicationId
    def leftovers: Seq[String] =
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty).map(_.getName).filter(_.contains(appId))
        .toSeq.sorted
    def run(q: String): Seq[String] =
      RelationalQueries.queries(q)(spark, d).collect().map(_.toString)
        .sorted.toSeq
    val q63 = run("q63_hetero_inputs")
    assert(q63.nonEmpty)
    assert(run("qe5").nonEmpty)
    assert(Seq("graft_q63_", "graft_qe5_")
      .forall(p => leftovers.exists(_.startsWith(p))), leftovers)
    RelationalQueries.cleanupTmpSinks(spark)
    assert(leftovers.isEmpty, s"tmp entries left behind: $leftovers")
    assert(run("q63_hetero_inputs") == q63,
      "q63 after the cleanup returned different rows")
    RelationalQueries.cleanupTmpSinks(spark)
    assert(leftovers.isEmpty, s"tmp entries left behind: $leftovers")
  }

  // a failed fixture write must not leave the fixture marked written:
  // the next q63 of the session rewrites it and answers the oracle
  test("q63 after a failed fixture write rewrites its fixture and returns the oracle's rows") {
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_q63_" + d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        spark.sparkContext.applicationId)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    Tables.orders(spark, d).createOrReplaceTempView("orders")
    val oracle = rows(spark.sql(SparkEntry.oracleSql("q63_hetero_inputs")))
    RelationalQueries.cleanupTmpSinks(spark)
    // a plain file where the fixture dir goes: every sink write fails
    assert(fixture.createNewFile(), fixture)
    try {
      intercept[Exception](
        RelationalQueries.queries("q63_hetero_inputs")(spark, d).collect())
      assert(fixture.delete())
      assert(rows(RelationalQueries.queries("q63_hetero_inputs")(spark, d))
        == oracle, "q63 after a failed fixture write diverged from its oracle")
    } finally {
      fixture.delete()
      RelationalQueries.cleanupTmpSinks(spark)
      spark.catalog.dropTempView("orders")
    }
  }
}

class JdbcRoundTripSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("write.jdbc then partitioned read.jdbc preserves rows") {
    val url = JdbcRoundTrip.memUrl(s"spec${System.nanoTime}")
    val df = (1L to 20L).map(i => (i, s"name$i")).toDF("id", "name")
    JdbcRoundTrip.write(df, url, "t")
    val back = JdbcRoundTrip.readPartitioned(spark, url, "t", "id", 1, 20, 4)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.as[(Long, String)].collect().toSet ==
      (1L to 20L).map(i => (i, s"name$i")).toSet)
  }
}

class PipeOpsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("pipe streams rows through an external command per partition") {
    val ds = Seq("hello", "world", "spark").toDS().repartition(2)
    val out = PipeOps.pipe(ds, Seq("tr", "a-z", "A-Z")).collect().toSet
    assert(out == Set("HELLO", "WORLD", "SPARK"))
  }

  test("pipe through cat is identity") {
    val ds = spark.range(100).map(_.toString)
    assert(PipeOps.pipe(ds, Seq("cat")).collect().toSet ==
      (0L until 100L).map(_.toString).toSet)
  }
}

/** SortValidator-style invariant checks (src/test/.../SortValidator.java:
  * 54,93-173 in the reference): the sorted output must be globally
  * ordered and contain exactly the input multiset (count + checksum). */
class SortValidationSpec extends AnyFunSuite with SparkTest {

  test("q13 global sort: total order across partitions, content preserved") {
    val d = "/root/testdata/sf0.001"
    val in = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val out = RelationalQueries.queries("q13_global_sort")(spark, d)
    // record-count + order-independent checksum, the reference's
    // bytes/records/xor triple re-expressed
    val chk = (df: org.apache.spark.sql.DataFrame) => df
      .agg(count(lit(1)), sum(hash(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice")).cast("long"))).collect()(0)
    assert(chk(in) == chk(out))
    val prices = out.select("l_extendedprice").collect().map(_.getDouble(0))
    assert(prices.zip(prices.tail).forall { case (a, b) => a <= b })
  }
}

class GeneratorsSpec extends AnyFunSuite with SparkTest {
  import graft.sources.Generators

  test("teraGen is deterministic and shuffle-free with the asked parallelism") {
    val g = Generators.teraGen(spark, 1000, 4)
    assert(g.rdd.getNumPartitions == 4)
    val a = g.collect().map(_.toString).sorted
    val b = Generators.teraGen(spark, 1000, 2).collect().map(_.toString).sorted
    assert(a.sameElements(b)) // content independent of parallelism
  }

  test("teraValidate flags disorder and passes a real sort") {
    val sorted = Generators.teraGen(spark, 5000, 4).orderBy("key")
    val ok = Generators.teraValidate(sorted, "key").collect()(0)
    assert(ok.getAs[Long]("n_rows") == 5000L)
    assert(ok.getAs[Long]("misordered") == 0L)
    // an UNSORTED frame of the same content must be flagged
    val unsorted = Generators.teraGen(spark, 5000, 4)
    val bad = Generators.teraValidate(unsorted, "key").collect()(0)
    assert(bad.getAs[Long]("misordered") > 0L)
    assert(bad.getAs[Long]("checksum") == ok.getAs[Long]("checksum"))
  }
}

class XmlRecordsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  import graft.sources.XmlRecords

  test("multi-line tag-delimited records roundtrip across line boundaries") {
    val path = tmpDir("xmlspec")
    val df = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta epsilon zeta"))
      .toDF("id", "body")
    XmlRecords.writeXml(df, "rec", Seq("id", "body"), path, numFiles = 2)
    val back = XmlRecords.readXml(spark, path, "rec", Seq("id", "body"))
      .select(col("id").cast("long"), col("body"))
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "alpha beta"), (2L, "gamma"),
      (3L, "delta epsilon zeta")))
  }

  test("null fields round-trip as empty strings (documented coercion)") {
    val path = tmpDir("xmlnull")
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "body")
    XmlRecords.writeXml(df, "rec", Seq("id", "body"), path)
    val back = XmlRecords.readXml(spark, path, "rec", Seq("id", "body"))
      .select(col("id").cast("long"), col("body"))
      .as[(Long, String)].collect().toSet
    // both rows survive with every element present; null became ""
    assert(back == Set((1L, "x"), (2L, "")))
  }
}

class BadRecordsSpec extends AnyFunSuite with SparkTest {
  import graft.sources.BadRecords
  import org.apache.spark.sql.types._

  test("DROPMALFORMED skips planted poison rows, keeps the rest") {
    import spark.implicits._
    val path = tmpDir("badspec")
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "name")
    BadRecords.writeWithPoison(df, col("id") % 10 === 0, path)
    val schema = new StructType().add("id", LongType).add("name", StringType)
    val back = BadRecords.readSkippingBad(spark, path, schema)
    assert(back.count() == 90)
    assert(back.agg(sum("id")).collect()(0).getLong(0) ==
      (1L to 100L).filter(_ % 10 != 0).sum)
  }
}

class MultiSinkSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  import graft.sources.MultiSink

  test("two named sinks from one cached pass") {
    val base = tmpDir("msink")
    val df = (1L to 50L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par")
    MultiSink.writeNamed(df, Seq(
      ((d: org.apache.spark.sql.DataFrame) => d.filter(col("par") === "even"),
        s"$base/even"),
      ((d: org.apache.spark.sql.DataFrame) =>
        d.groupBy("par").agg(count(lit(1)).as("n")), s"$base/counts")))
    assert(spark.read.parquet(s"$base/even").count() == 25)
    assert(spark.read.parquet(s"$base/counts").as[(String, Long)]
      .collect().toMap == Map("even" -> 25L, "odd" -> 25L))
  }

  test("writeNamedByRow: rows land in files named by their values") {
    val dir = tmpDir("namedfiles")
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "ev" else "od"))
      .toDF("id", "par").repartition(4)
    MultiSink.writeNamedByRow(df,
      concat(lit("group_"), col("par")), col("id"), dir)
    // one bare file per generated name (plus local-FS .crc sidecars,
    // hidden dot-files every Spark reader skips), holding exactly its rows
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.toSeq == Seq("group_ev", "group_od"), files.toSeq)
    val ev = scala.io.Source.fromFile(s"$dir/group_ev").getLines()
      .map(_.toLong).toSeq
    assert(ev.sorted == (2L to 40L by 2), ev)
    // multi-part mode: per-task files keep a -NNNNN suffix, same rows
    val dir2 = tmpDir("namedfiles_mp")
    MultiSink.writeNamedByRow(df,
      concat(lit("g_"), col("par")), col("id"), dir2, onePerName = false)
    val all = spark.read.text(dir2).as[String].collect().map(_.toLong)
    assert(all.sorted.toSeq == (1L to 40L), all.sorted.toSeq)
    val names2 = new java.io.File(dir2).listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(names2.forall(n => n.startsWith("g_ev") || n.startsWith("g_od")))
  }

  test("writeNamedByRow: subdir and Hive-escaped characters in names round-trip") {
    val dir = tmpDir("namedspecial")
    // '/' puts the file in a subdirectory (the reference's
    // generateFileNameForKeyValue returns relative paths); '+' and ':'
    // exercise the Hive path-escaping inverse (URLDecoder would have
    // turned the '+' into a space)
    val df = Seq((1L, "2024/01"), (2L, "a+b"), (3L, "t:x")).toDF("id", "name")
    MultiSink.writeNamedByRow(df, col("name"), col("id"), dir)
    def read(rel: String) =
      scala.io.Source.fromFile(new java.io.File(dir, rel)).getLines().toSeq
    assert(read("2024/01") == Seq("1"))
    assert(read("a+b") == Seq("2"))
    assert(read("t:x") == Seq("3"))
  }
}

class PipeFailureSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("nonzero exit fails the task instead of truncating output") {
    val ds = Seq("a", "b", "c").toDS().coalesce(1)
    val ex = intercept[org.apache.spark.SparkException] {
      PipeOps.pipe(ds, Seq("sh", "-c", "head -n 1; exit 3")).collect()
    }
    assert(ex.getMessage.contains("exited 3") ||
      Option(ex.getCause).exists(_.getMessage.contains("exited 3")))
  }

  test("a stderr-flooding child does not deadlock the task") {
    val ds = Seq("x").toDS().coalesce(1)
    // 1 MiB of stderr — far beyond the ~64KB OS pipe buffer
    val out = PipeOps.pipe(ds, Seq("sh", "-c",
      "yes err 2>/dev/null | head -c 1048576 1>&2; cat")).collect()
    assert(out.sameElements(Array("x")))
  }
}

class NLinesSpec extends AnyFunSuite with SparkTest {
  import graft.sources.NLines

  // mapred/lib/NLineInputFormat.java:59 — getSplits' contract, table-
  // driven: N lines per split, last split takes the remainder, begin =
  // cumulative byte offset, length = line bytes + LF terminators.
  private def writeLines(tag: String, lines: Seq[String]): String = {
    val dir = new java.io.File(tmpDir(tag))
    dir.mkdirs()
    val f = new java.io.File(dir, "control.txt")
    java.nio.file.Files.writeString(f.toPath,
      lines.map(_ + "\n").mkString)
    f.getAbsolutePath
  }

  test("splits: N per split, remainder last, exact byte arithmetic") {
    val lines = Seq("alpha", "b", "gamma rays", "", "ee", "ffffff", "g", "hh")
    val file = writeLines("nline8", lines)
    val out = NLines.splits(spark, file, n = 3)
      .orderBy("split_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // hand-computed FileSplit list (bytes include the LF):
    //   lines 0-2: 6+2+11=19 from 0; 3-5: 1+3+7=11 from 19; 6-7: 2+3=5
    assert(out.toSeq == Seq((0L, 0L, 19L, 3L), (1L, 19L, 11L, 3L),
      (2L, 30L, 5L, 2L)))
    // reference invariant: begins chain (begin + length = next begin)
    // and lengths sum to the file size
    assert(out.map(_._3).sum ==
      new java.io.File(file).length())
  }

  test("splits: N larger than the file yields one remainder split") {
    val file = writeLines("nline_small", Seq("only", "two"))
    val out = NLines.splits(spark, file, n = 100).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L &&
      r.getLong(2) == 9L && r.getLong(3) == 2L)
  }

  test("splits: the plan has no single-partition window") {
    // the line numbering is the range-partitioned sort + zipWithIndex
    // that read uses; an unpartitioned Window.orderBy would move every
    // line offset of the file into one task
    import org.apache.spark.sql.execution.window.WindowExec
    val file = writeLines("nline_plan", (0 until 20).map(i => s"p$i"))
    val plan = NLines.splits(spark, file, n = 3).queryExecution.sparkPlan
    val global = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, s"single-partition WindowExec in:\n$plan")
  }

  test("read: partition i IS split i, lines in offset order within") {
    val lines = (0 until 10).map(i => s"param set $i")
    val file = writeLines("nline_read", lines)
    val df = NLines.read(spark, file, n = 4)
    val perPart = df.rdd
      .mapPartitionsWithIndex { (pi, it) =>
        Iterator((pi, it.map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSeq))
      }.collect().sortBy(_._1)
    assert(perPart.map(_._1).toSeq == Seq(0, 1, 2))
    assert(perPart.map(_._2.length).toSeq == Seq(4, 4, 2))
    for ((pi, rows) <- perPart) {
      assert(rows.forall(_._1 == pi), s"split_id mismatch in partition $pi")
      assert(rows.map(_._2) == rows.map(_._2).sorted,
        s"offsets out of order in partition $pi")
    }
    // every line lands in its N-block, content intact
    assert(perPart.flatMap(_._2).map(_._3).toSeq == lines)
  }
}
