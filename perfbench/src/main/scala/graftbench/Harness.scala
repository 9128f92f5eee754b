package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Process-level counters read from /proc (Linux). */
object Proc {
  private def field(file: String, key: String): Long =
    try {
      val line = Files.readAllLines(java.nio.file.Paths.get(file)).toArray
        .map(_.toString).find(_.startsWith(key + ":"))
      line.map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }

  def writeBytes: Long = field("/proc/self/io", "write_bytes")
  def readBytes: Long = field("/proc/self/io", "read_bytes")
  def peakRssMb: Double = field("/proc/self/status", "VmHWM") / 1024.0
  def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
}

object FileTree {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def treeFiles(p: Path): Seq[(String, Long)] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val out = mutable.ArrayBuffer.empty[(String, Long)]
        s.filter(Files.isRegularFile(_)).forEach(f => out += (f.toString -> Files.size(f)))
        out.toSeq
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, never
    * below the upper median: (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return (Double.NaN, Double.NaN, 0)
    val idx = math.max(n / 2, n - 11)
    (s(idx), 100.0 * (idx + 1) / n, n)
  }

  /** Payload bytes of a row as a user would count them: 8 per long or
    * double, 4 per int, UTF-8 length per string. */
  def rowBytes(r: Row): Long = {
    var b = 0L
    var i = 0
    while (i < r.length) {
      b += (r.get(i) match {
        case s: String => s.getBytes("UTF-8").length.toLong
        case _: Int => 4L
        case null => 0L
        case _ => 8L
      })
      i += 1
    }
    b
  }
}

/** One recorded query answer, checked after the timed loop. */
final case class Answer(cls: String, what: String, expected: String, observed: String)

/** Shared state of one benchmark run: the session, the tracer, the
  * operation timings and the deferred output checks. Operations run one
  * at a time on the calling thread (a closed loop with one client). */
final class Harness(val spark: SparkSession, val tracer: Tracer,
    val seed: Long, val workDir: Path) {

  val warehouse: Path = workDir.resolve("warehouse")
  val loadLat = mutable.ArrayBuffer.empty[Double]
  val queryLat = mutable.ArrayBuffer.empty[Double]
  /** The class of each query in `queryLat`. */
  val queryClasses = mutable.ArrayBuffer.empty[String]
  /** Per load: bytes the process wrote ÷ user bytes the load staged. */
  val writeAmp = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val answers = mutable.ArrayBuffer.empty[Answer]
  var rowsCommitted = 0L
  var userBytes = 0L
  /** Rows returned per query class (the traced run's rows-read ratio). */
  val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Documents the stream kept during the timed loop. */
  var docsKept = 0L
  /** Loop time spent on trace-only work (metadata walks), excluded from
    * the loop's wall. */
  var traceOnlyNs = 0L
  /** Counting on, once the timed loop starts; warm-up ops are not counted. */
  var timing = false

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: $e"
    System.err.println(s"[perfbench] FAILED $what: $e")
  }

  /** Time one load (or micro-batch) of `bytes` user payload end to end;
    * the body may report its own latency (a micro-batch's trigger time)
    * instead of the measured wall. */
  def load(kind: String, bytes: Long)(body: => Option[Double]): Boolean = {
    if (timing) attempted += 1
    val w0 = Proc.writeBytes
    val t0 = System.nanoTime()
    try {
      val reported = tracer.span(kind)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      if (timing) {
        loadLat += reported.getOrElse(wall)
        writeAmp += (Proc.writeBytes - w0).toDouble / math.max(1L, bytes)
        userBytes += bytes
      }
      true
    } catch { case NonFatal(e) => if (timing) fail(kind, e) else throw e; false }
  }

  /** Time one query: plan (build + physical planning) then collect. */
  def query(cls: String)(build: => DataFrame): Option[Array[Row]] = {
    if (timing) attempted += 1
    val t0 = System.nanoTime()
    try {
      val rows = tracer.span("query", cls) {
        val df = tracer.span("plan", cls) {
          val d = build
          d.queryExecution.executedPlan
          d
        }
        tracer.span("exec", cls)(df.collect())
      }
      if (timing) {
        queryLat += (System.nanoTime() - t0) / 1e9
        queryClasses += cls
        rowsOut(cls) += rows.length
      }
      Some(rows)
    } catch { case NonFatal(e) => if (timing) fail(cls, e) else throw e; None }
  }

  def expect(cls: String, what: String, expected: Any, observed: Any): Unit =
    if (timing) answers += Answer(cls, what, String.valueOf(expected), String.valueOf(observed))

  /** A whole-table check after the loop: counts as one attempted operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) => errors += s"$what: $e"; false }
    if (!passed) {
      failed += 1
      errors += s"check failed: $what"
      System.err.println(s"[perfbench] CHECK FAILED $what")
    }
  }

  /** Evaluate the recorded answers; each mismatch is a failed operation. */
  def checkAnswers(): Unit = answers.foreach { a =>
    if (a.expected != a.observed) {
      failed += 1
      if (errors.size < 20) errors += s"${a.cls} ${a.what}: expected ${a.expected}, got ${a.observed}"
    }
  }

  def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}

/** A benchmark workload: set-up rounds into fresh namespaces, then a timed
  * closed loop, then output checks. */
trait Workload {
  def name: String
  /** Build the workload's tables in namespace `ns` (one set-up round). */
  def setup(h: Harness, ns: String): Unit
  /** Warm the loop's operations up on the last round's tables. */
  def warmup(h: Harness): Unit
  /** One loop iteration (a load, a cycle, a micro-batch). */
  def step(h: Harness, i: Int): Boolean
  /** Output checks, after the loop. */
  def checks(h: Harness): Unit
  /** Typical wall of one step on a 4-core box. */
  def nominalStepS: Double
  /** Steps in one whole cycle of the workload's operation mix. */
  def cycleSteps: Int
  /** Steps a run of `seconds` makes: whole cycles, about `seconds` long.
    * Fixed for a given length, traced or not, so every run of it does the
    * same operations. */
  def steps(seconds: Int): Int =
    cycleSteps * math.max(1, math.round(seconds / nominalStepS / cycleSteps).toInt)
  /** Tables of the final namespace (for storage and catalog metrics). */
  def tables: Seq[String]
  def ns: String
}
