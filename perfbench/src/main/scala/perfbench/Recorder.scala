package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed op. `error` is None when the op completed and its check
  * passed. `cpuS` is JVM process CPU over the op (every Spark thread runs
  * in this process under local[N]). `busyS` and `stealS` are the box's
  * CPU-seconds run and stolen over the op, summed over all CPUs. */
final case class OpRec(n: Long, kind: String, module: String,
    seconds: Double, cpuS: Double, gcS: Double, busyS: Double,
    stealS: Double, error: Option[String])

/** Contention readings of the box: stolen CPU from /proc/stat, the
  * 1-minute loadavg, process CPU, GC time and heap. Each read costs microseconds;
  * outside Linux they return -1. */
object Box {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Collection time of every garbage collector since JVM start, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** (run, stolen) CPU-seconds since boot, summed over all CPUs
    * (USER_HZ = 100): run is user + nice + system + irq + softirq. */
  def cpuS(): (Double, Double) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+")
      if (f.length > 8)
        (Seq(1, 2, 3, 6, 7).map(f(_).toLong).sum / 100.0, f(8).toLong / 100.0)
      else (-1.0, -1.0)
    } catch { case NonFatal(_) => (-1.0, -1.0) }

  /** Stolen CPU-seconds summed over all CPUs. */
  def stealS(): Double = cpuS()._2

  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      .toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Sum of the heap pools' peak usage since JVM start, in MiB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Runs and records the timed ops of one closed-loop client: the next op
  * starts only after the previous one (and its check) finished. Checks run
  * outside the op's timing; a failed check fails the op. */
final class Recorder(val tracer: Tracer) {
  val ops = mutable.ArrayBuffer[OpRec]()
  var load1Max: Double = Box.load1()
  private var steal0 = 0.0
  private var firstOpEpochMs = 0L
  private var lastOpEpochMs = 0L

  def timedSeconds: Double = ops.iterator.map(_.seconds).sum

  def op[T](kind: String, module: String)(work: => T)(
      check: T => Option[String]): Unit = {
    if (ops.isEmpty) {
      firstOpEpochMs = System.currentTimeMillis()
      steal0 = Box.stealS()
    }
    val n = ops.size + 1L
    tracer.op = n
    val c0 = Box.processCpuNs()
    val g0 = Box.gcMs()
    val (busy0, stolen0) = Box.cpuS()
    val t0 = System.nanoTime()
    val result =
      try Right(tracer("op")(work))
      catch { case NonFatal(e) => Left(Recorder.describe(e)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val (busy1, stolen1) = Box.cpuS()
    val cpuS = (Box.processCpuNs() - c0) / 1e9
    val gcS = (Box.gcMs() - g0) / 1e3
    tracer.op = 0L
    val error = result match {
      case Left(msg) => Some(msg)
      case Right(v) =>
        try check(v)
        catch { case NonFatal(e) => Some("check: " + Recorder.describe(e)) }
    }
    ops += OpRec(n, kind, module, seconds, cpuS, gcS, busy1 - busy0,
      stolen1 - stolen0, error)
    lastOpEpochMs = System.currentTimeMillis()
    load1Max = math.max(load1Max, Box.load1())
  }

  def summary: Map[String, Any] = Map(
    "first_op_epoch_ms" -> firstOpEpochMs,
    "last_op_epoch_ms" -> lastOpEpochMs,
    "timed_s" -> timedSeconds,
    "box_steal_s" -> (Box.stealS() - steal0),
    "box_load1_max" -> load1Max,
    "jvm_heap_peak_mb" -> Box.heapPeakMb(),
    "ops" -> ops.map(o => Map(
      "n" -> o.n, "kind" -> o.kind, "module" -> o.module,
      "s" -> o.seconds, "cpu_s" -> o.cpuS, "gc_s" -> o.gcS,
      "box_busy_s" -> o.busyS, "box_steal_s" -> o.stealS,
      "error" -> o.error.orNull)))
}

object Recorder {
  def describe(e: Throwable): String = {
    val m = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    if (m.length > 300) m.take(300) + "..." else m
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, options). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
