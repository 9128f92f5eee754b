package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Layers are named by the engine's
  * modules: `pipeline` (GraftPipeline), `write` (GraftWriter, Stager,
  * Maintenance: jobs carrying a JobDesc phase label, or unlabelled jobs
  * inside a load), `catalog` (table metadata, from the walker), `read`
  * (both read surfaces, per query class), `streaming` (StreamingLoader
  * micro-batch machinery), `llmops` (Dedup jobs inside a micro-batch:
  * the stream's own description, no write label), `spark` (every job in
  * the loop) and `os`. */
final class Report(h: Harness, tracer: Tracer, walker: Walker,
    loopStartMs: Double, loopEndMs: Double, loopS: Double, nproc: Int,
    io0: (Long, Long, Double), io1: (Long, Long, Double), bodyReads: Long,
    overheadFrac: Option[Double]) {

  private val inLoop = tracer.spans.toSeq.filter(s => s.start >= loopStartMs && s.end <= loopEndMs)
  private val ops = inLoop.filter(s => Set("load", "batch", "query")(s.kind)).sortBy(_.start)
  private val jobs = tracer.jobs.values.asScala.toSeq
    .filter(j => j.start >= loopStartMs - 1 && j.start <= loopEndMs + 1 && j.end >= 0)
    .sortBy(_.start)

  /** The op span a job ran under (ops never overlap: one client). */
  private val jobOp: Map[Int, Span] = jobs.flatMap { j =>
    ops.find(o => j.start >= o.start - 1 && j.start <= o.end + 1).map(j.id -> _)
  }.toMap

  /** Layer key of a job: `write.<phase>`, `write.unlabelled`,
    * `read.<class>`, `llmops` or `spark.other`. */
  private def layerOf(j: JobRec): String =
    Tracer.phase(j.desc).map("write." + _).getOrElse(jobOp.get(j.id) match {
      case Some(o) if o.kind == "query" => "read." + o.label
      case Some(o) if o.kind == "batch" => "llmops"
      case Some(_) => "write.unlabelled"
      case None => "spark.other"
    })

  private val byLayer: Map[String, Seq[JobRec]] = jobs.groupBy(layerOf)
  private def jobsOf(layer: String): Seq[JobRec] = byLayer.getOrElse(layer, Nil)

  private def wall(js: Seq[JobRec]): Double = js.map(j => (j.end - j.start) / 1000.0).sum
  private def taskS(js: Seq[JobRec]): Double = js.map(_.taskMs).sum / 1000.0

  private def jobIv(js: Seq[JobRec]): Seq[(Double, Double)] =
    js.map(j => (j.start.toDouble, j.end.toDouble))

  /** Self times per named layer. Each op (a call into the engine's public
    * entry points) is split into its Spark-job time, by job layer (in
    * proportion where jobs overlap), and its driver time outside any job,
    * which goes to `<op layer>.driver` (load → pipeline, query → read,
    * batch → streaming). Loop time outside every op is the client's own
    * work (input generation, the model) and belongs to no layer. */
  val selfTimes: Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { o =>
      val js = jobs.filter(j => jobOp.get(j.id).contains(o))
        .map(j => (j, math.max(o.start, j.start.toDouble), math.min(o.end, j.end.toDouble)))
      val covered = Tracer.unionSeconds(js.map(x => (x._2, x._3)))
      val raw = js.groupBy(x => layerOf(x._1).split('.').head)
        .map { case (l, xs) => l -> Tracer.unionSeconds(xs.map(x => (x._2, x._3))) }
      val scale = if (raw.values.sum > 0) covered / raw.values.sum else 0.0
      raw.foreach { case (l, s) => acc(l) += s * scale }
      val own = o.kind match {
        case "load" => "pipeline"
        case "query" => "read"
        case _ => "streaming"
      }
      acc(own + ".driver") += math.max(0.0, o.dur - covered)
    }
    acc.toMap
  }

  /** Share of the loop wall spent inside the engine's calls, all of it
    * named by `selfTimes`; the rest is the client's own work. */
  val coverage: Double = selfTimes.values.sum / loopS
  /** Share of the loop wall covered by Spark jobs. */
  val jobShare: Double = selfTimes.filter(!_._1.endsWith(".driver")).values.sum / loopS

  val metrics: mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)

    // pipeline
    val loads = ops.filter(_.kind == "load")
    val completes = inLoop.filter(_.kind == "complete_load")
    put("pipeline.stage_s", inLoop.filter(_.kind == "stage").map(_.dur).sum, "s")
    put("pipeline.complete_load_s", completes.map(_.dur).sum, "s")
    put("pipeline.loads", loads.size.toDouble, "count")
    put("pipeline.loads_failed", h.errors.count(e => e.startsWith("load:")).toDouble, "count")
    put("pipeline.driver_s", completes.map { c =>
      val js = jobs.filter(j => j.start >= c.start - 1 && j.start <= c.end + 1)
      math.max(0.0, c.dur - Tracer.unionSeconds(jobIv(js)))
    }.sum, "s")

    // write
    Tracer.Phases.foreach { p =>
      val js = jobsOf("write." + p)
      put(s"write.$p.jobs", js.size.toDouble, "count")
      put(s"write.$p.wall_s", wall(js), "s")
      put(s"write.$p.task_s", taskS(js), "s")
      put(s"write.$p.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble, "bytes")
    }
    val unl = jobsOf("write.unlabelled")
    put("write.unlabelled.jobs", unl.size.toDouble, "count")
    put("write.unlabelled.wall_s", wall(unl), "s")
    put("write.unlabelled.task_s", taskS(unl), "s")
    put("write.bytes_written", jobs.map(_.bytesWritten).sum.toDouble, "bytes")
    put("write.files_written", walker.filesWritten.toDouble, "count")

    // catalog
    put("catalog.metadata_versions", walker.metadataVersions.toDouble, "count")
    put("catalog.metadata_bytes_written", walker.metadataBytes.toDouble, "bytes")
    put("catalog.metadata_json_bytes_last", walker.jsonBytesLast.toDouble, "bytes")
    put("catalog.manifests_written", walker.manifestsWritten.toDouble, "count")
    put("catalog.manifest_body_reads", bodyReads.toDouble, "count")
    put("catalog.snapshots_live", walker.snapshots.toDouble, "count")
    put("catalog.data_files_live", walker.dataFiles.toDouble, "count")
    put("catalog.delete_files_live", walker.deleteFiles.toDouble, "count")
    put("catalog.manifests_live", walker.manifests.toDouble, "count")
    put("catalog.load_metadata_s", walker.loadMetadataS, "s")

    // read
    Gen.QueryClasses.foreach { c =>
      val js = jobsOf("read." + c)
      put(s"read.$c.plan_s", inLoop.filter(s => s.kind == "plan" && s.label == c).map(_.dur).sum, "s")
      put(s"read.$c.exec_s", inLoop.filter(s => s.kind == "exec" && s.label == c).map(_.dur).sum, "s")
      put(s"read.$c.jobs", js.size.toDouble, "count")
      put(s"read.$c.bytes_read", js.map(_.bytesRead).sum.toDouble, "bytes")
      put(s"read.$c.rows_read_per_row_out",
        js.map(_.recordsRead).sum.toDouble / math.max(1L, h.rowsOut(c)), "ratio")
    }

    // streaming
    val prog = tracer.progress.asScala.toSeq.filter { p =>
      p.numInputRows > 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= loopStartMs - 1
    }
    def dur(key: String): Double =
      prog.map(p => Option(p.durationMs.get(key)).map(_.toLong).getOrElse(0L)).sum / 1000.0
    put("streaming.batches", prog.size.toDouble, "count")
    put("streaming.trigger_s", dur("triggerExecution"), "s")
    put("streaming.add_batch_s", dur("addBatch"), "s")
    put("streaming.query_planning_s", dur("queryPlanning"), "s")
    put("streaming.wal_commit_s", dur("walCommit"), "s")
    put("streaming.offsets_s", dur("latestOffset") + dur("getBatch") + dur("commitOffsets"), "s")
    put("streaming.overhead_s", dur("triggerExecution") - dur("addBatch"), "s")
    put("streaming.input_rows", prog.map(_.numInputRows).sum.toDouble, "rows")

    // llmops
    val ll = jobsOf("llmops")
    put("llmops.jobs", ll.size.toDouble, "count")
    put("llmops.wall_s", wall(ll), "s")
    put("llmops.task_s", taskS(ll), "s")
    put("llmops.shuffle_bytes", ll.map(_.shuffleBytes).sum.toDouble, "bytes")
    put("llmops.spill_bytes", ll.map(_.spillBytes).sum.toDouble, "bytes")
    put("llmops.docs_kept", h.docsKept.toDouble, "count")

    // spark
    put("spark.jobs", jobs.size.toDouble, "count")
    put("spark.stages", jobs.map(_.stages).sum.toDouble, "count")
    put("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count")
    put("spark.task_s", taskS(jobs), "s")
    put("spark.gc_s", jobs.map(_.gcMs).sum / 1000.0, "s")
    put("spark.shuffle_bytes", jobs.map(_.shuffleBytes).sum.toDouble, "bytes")
    put("spark.spill_bytes", jobs.map(_.spillBytes).sum.toDouble, "bytes")
    put("spark.sched_wait_s", jobs.map(_.schedWaitMs).sum / 1000.0, "s")
    put("spark.job_wall_p50_ms", if (jobs.isEmpty) 0.0
      else Stats.median(jobs.map(j => (j.end - j.start).toDouble)), "ms")
    put("spark.busy_frac", taskS(jobs) / (nproc * loopS), "ratio")
    put("spark.task_failures", jobs.map(_.taskFailures).sum.toDouble, "count")

    // os
    put("os.write_bytes", (io1._1 - io0._1).toDouble, "bytes")
    put("os.read_bytes", (io1._2 - io0._2).toDouble, "bytes")
    put("os.cpu_s", io1._3 - io0._3, "s")

    // the trace itself
    put("trace.coverage_frac", coverage, "ratio")
    put("trace.job_frac", jobShare, "ratio")
    put("trace.client_s", math.max(0.0, loopS - selfTimes.values.sum), "s")
    put("trace.overhead_frac", overheadFrac.getOrElse(0.0), "ratio")
    put("trace.self_s", (tracer.selfNs + tracer.listenerNs) / 1e9, "s")
    m
  }

  /** Spans as JSON lines: run → load/query/batch → job. */
  def spansJsonl: String = {
    val sb = new StringBuilder
    def line(kv: (String, Any)*): Unit = sb.append(Json.render(kv)).append('\n')
    line("id" -> 0L, "parent" -> -1L, "kind" -> "run", "label" -> "",
      "start" -> loopStartMs, "end" -> loopEndMs)
    tracer.spans.sortBy(_.start).foreach(s => line("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "label" -> s.label, "start" -> s.start, "end" -> s.end))
    jobs.foreach(j => line("id" -> (1000000000L + j.id),
      "parent" -> jobOp.get(j.id).map(_.id).getOrElse(0L), "kind" -> "job",
      "label" -> layerOf(j), "start" -> j.start.toDouble, "end" -> j.end.toDouble,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs))
    sb.toString
  }
}
