package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * precision (so they line up with Spark listener times). `kind` is
  * run | load | query | batch | stage | complete_load | plan | exec | gen
  * | job; `label` carries the query class or the job's phase. */
final case class Span(id: Long, parent: Long, kind: String, label: String,
    start: Double, end: Double) {
  def dur: Double = (end - start) / 1000.0
}

/** What the listener saw of one Spark job. */
final class JobRec(val id: Int, val desc: String, val start: Long) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var taskFailures = 0
  var schedWaitMs = 0L
}

/** Spans and Spark-side counts, recorded from outside the engine: wall
  * clock around the benchmark's calls into the engine's public entry
  * points, a `SparkListener` for jobs (attributed by their
  * `spark.job.description`), and a `StreamingQueryListener` for
  * micro-batch progress. Kept in memory, written once at the end. */
final class Tracer(val on: Boolean) {
  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Long]
  /** Time the tracer spent on its own bookkeeping inside the timed loop. */
  var selfNs = 0L

  // epoch-millisecond clock with nanoTime resolution, comparable with the
  // listener's job times
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = epochBase + System.nanoTime() / 1e6

  /** Run `body` inside a span (a no-op wrapper when tracing is off). */
  def span[T](kind: String, label: String = "")(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) 0L else open.top
      open.push(id)
      val start = nowMs
      selfNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        val end = nowMs
        open.pop()
        spans += Span(id, parent, kind, label, start, end)
        selfNs += System.nanoTime() - t1
      }
    }

  // ---- Spark jobs --------------------------------------------------------

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageFirstLaunch = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var listenerNs = 0L

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t0 = System.nanoTime()
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = new JobRec(e.jobId, desc, e.time)
      j.stages = e.stageIds.size
      e.stageIds.foreach(s => stageJob.put(s, j))
      jobs.put(e.jobId, j)
      listenerNs += System.nanoTime() - t0
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageFirstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (j <- Option(stageJob.get(si.stageId)); sub <- si.submissionTime;
           first <- Option(stageFirstLaunch.get(si.stageId)))
        j.synchronized { j.schedWaitMs += math.max(0L, first - sub) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t0 = System.nanoTime()
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (!e.taskInfo.successful) j.taskFailures += 1
          val m = e.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
            j.bytesRead += m.inputMetrics.bytesRead
            j.recordsRead += m.inputMetrics.recordsRead
            j.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
      listenerNs += System.nanoTime() - t0
    }
  }

  // ---- streaming progress ------------------------------------------------

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait (bounded) until every started job has been seen to end: the
    * listener bus is asynchronous. */
  def drain(timeoutMs: Long = 10000L): Unit = if (on) {
    val until = System.currentTimeMillis() + timeoutMs
    import scala.jdk.CollectionConverters._
    while (jobs.values.asScala.exists(_.end < 0) &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last job
  }
}

object Tracer {
  /** The write phase a job description names, from the engine's JobDesc
    * labels (`graft.stage:write <load>` → `stage_write`). Labels do not
    * nest: Stager's own label replaces the caller's, so a staging job is
    * given its caller's phase by the id it stages under (`apply-deletes`,
    * `compact`, `<load>-rw`). */
  def phase(desc: String): Option[String] = {
    val Re = raw"(?s)graft\.(stage|merge|maint):([a-z-]+)\s*(\S*).*".r
    desc match {
      case Re("stage", _, "apply-deletes") => Some("maint_apply_deletes")
      case Re("stage", _, "compact") => Some("maint_compact")
      case Re("stage", _, id) if id.endsWith("-rw") => Some("merge_rewrite")
      case Re(kind, what, _) => Some(s"${kind}_${what.replace('-', '_')}")
      case _ => None
    }
  }

  val Phases: Seq[String] = Seq("stage_write", "stage_stats", "stage_bloom",
    "stage_sketch", "merge_keys", "merge_ranges", "merge_probe",
    "merge_rewrite", "maint_compact", "maint_apply_deletes")

  /** Length of the union of intervals, in seconds. */
  def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    val s = iv.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    s.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else if (b > ce) ce = b
    }
    if (!cs.isNaN) total += ce - cs
    total / 1000.0
  }
}
