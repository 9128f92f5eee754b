package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.catalog.GraftCatalog
import scala.collection.mutable

/** Workload benchmark main.
  *
  * {{{
  * Main --workload <serve_mor|stream_dedup> --seed <n>
  *      --seconds <s> --trace <0|1> --work-dir <dir> --record <file>
  *      [--reference-loop-s <x>]
  * }}}
  *
  * Prints one JSON line last on stdout: `correct`, `attempted`, `failed`
  * and the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). Details (percentiles, sample counts, per-layer self
  * times, check errors) go to the `--record` file; a traced run also
  * writes its spans beside it. */
object Main {

  /** Set-up rounds per run; `setup_s` counts their median. Two is what the
    * run budget allows after a cold JVM's first round and warm-up. */
  val Rounds = 2

  def workload(name: String, seed: Long, seconds: Int): Workload = name match {
    case "serve_mor" => new ServeMor(seed, initialOrders = 20000,
      upsertRows = 1000, queriesPerLoad = 2, rangeWidth = 400)
    case "stream_dedup" => new StreamDedup(seed, corpus = 1000,
      chunkSize = 500, queriesPerBatch = 4, maxChunks = seconds + 8)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val workDir = Paths.get(opts("work-dir")).toAbsolutePath
    val record = Paths.get(opts("record")).toAbsolutePath
    val referenceLoopS = opts.get("reference-loop-s").map(_.toDouble)
    val wl = workload(name, seed, seconds)
    val nproc = Runtime.getRuntime.availableProcessors()

    Files.createDirectories(workDir)
    val warehouse = workDir.resolve("warehouse")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toString)
      .config("spark.sql.extensions", classOf[graft.catalog.GraftSqlExtensions].getName)
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftSparkCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(traced)
    val h = new Harness(spark, tracer, seed, workDir)

    // ---- set-up: several rounds of table creation into fresh namespaces
    // (the median counts), then a warm-up on the last round's tables
    val roundS = (0 until Rounds).map { r =>
      val t0 = System.nanoTime()
      wl.setup(h, s"r$r")
      val dt = (System.nanoTime() - t0) / 1e9
      if (r < Rounds - 1) FileTree.deleteTree(warehouse.resolve(s"r$r"))
      dt
    }
    val w0 = System.nanoTime()
    wl.warmup(h)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(roundS) + warmupS

    // ---- timed loop
    val walker = if (traced) Some(new Walker(new GraftCatalog(spark, warehouse.toString),
      wl.ns, wl.tables)) else None
    tracer.attach(spark)
    walker.foreach(_.baseline())
    val io0 = (Proc.writeBytes, Proc.readBytes, Proc.cpuSeconds)
    val bodyReads0 = graft.catalog.ManifestIO.bodyReads.get()
    h.timing = true
    val loopStartMs = tracer.nowMs
    val t0 = System.nanoTime()
    val steps = wl.steps(seconds)
    (0 until steps).foreach { i =>
      tracer.span("step")(wl.step(h, i))
      walker.foreach(w => h.traceOnlyNs += w.walk())
    }
    val loopS = (System.nanoTime() - t0 - h.traceOnlyNs) / 1e9
    val loopEndMs = tracer.nowMs
    h.timing = false
    val io1 = (Proc.writeBytes, Proc.readBytes, Proc.cpuSeconds)
    val bodyReads = graft.catalog.ManifestIO.bodyReads.get() - bodyReads0 -
      walker.map(_.bodyReads).getOrElse(0L)

    // ---- storage, then the output checks (outside the timed region)
    val c0 = System.nanoTime()
    val catalog = new GraftCatalog(spark, warehouse.toString)
    val liveBytes = wl.tables.filter(catalog.tableExists(wl.ns, _)).map { t =>
      catalog.loadTable(wl.ns, t).metadata.currentSnapshot.map(_.sizeBytes).getOrElse(0L)
    }.sum
    val storedBytes = FileTree.treeBytes(warehouse)
    wl.checks(h)
    val peakRss = Proc.peakRssMb
    // memory, recorded only: peak RSS follows the collector's heap sizing
    // and the heap retained after full collections is bimodal across runs
    (1 to 2).foreach(_ => System.gc())
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val checksS = (System.nanoTime() - c0) / 1e9

    val (loadTail, loadTailP, nLoads) = Stats.tail(h.loadLat.toSeq)
    val (queryTail, queryTailP, nQueries) = Stats.tail(h.queryLat.toSeq)
    val opsPerS = (nLoads + nQueries) / loopS
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "load_p50_s" -> (Stats.median(h.loadLat.toSeq), "s"),
      "load_tail_s" -> (loadTail, "s"),
      "rows_per_s" -> (h.rowsCommitted / loopS, "rows/s"),
      "query_p50_s" -> (Stats.median(h.queryLat.toSeq), "s"),
      "query_tail_s" -> (queryTail, "s"),
      "queries_per_s" -> (nQueries / loopS, "1/s"),
      "write_amp" -> (Stats.median(h.writeAmp.toSeq), "ratio"),
      "storage_amp" -> (storedBytes.toDouble / math.max(1L, liveBytes), "ratio"))

    val layers: Option[Report] = if (!traced) None else {
      tracer.drain()
      Some(new Report(h, tracer, walker.get, loopStartMs, loopEndMs, loopS,
        nproc, io0, io1, bodyReads, referenceLoopS.map(r => loopS / r - 1.0)))
    }

    val metrics = layers.map(_.metrics).getOrElse(e2e)
    val correct = h.failed == 0
    val rec = Seq[(String, Any)](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "digest" -> Gen.digest(seed), "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark_version" -> spark.version,
      "session_s" -> sessionS, "setup_rounds_s" -> roundS, "warmup_s" -> warmupS, "checks_s" -> checksS, "loop_s" -> loopS,
      "steps" -> steps, "peak_rss_mb" -> peakRss, "heap_retained_mb" -> retainedMb, "loads" -> nLoads, "queries" -> nQueries, "ops_per_s" -> opsPerS,
      "load_lat_s" -> h.loadLat.toSeq, "query_lat_s" -> h.queryClasses.zip(h.queryLat).toSeq
        .map { case (c, t) => Seq[(String, Any)]("class" -> c, "s" -> t) },
      "load_tail_percentile" -> loadTailP, "query_tail_percentile" -> queryTailP,
      "rows_committed" -> h.rowsCommitted, "user_bytes" -> h.userBytes,
      "warehouse_bytes" -> storedBytes, "live_data_bytes" -> liveBytes,
      "attempted" -> h.attempted, "failed" -> h.failed, "errors" -> h.errors.toSeq,
      "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
      "layers" -> layers.map(_.selfTimes).getOrElse(Map.empty),
      "coverage" -> layers.map(_.coverage).getOrElse(0.0))
    Files.createDirectories(record.getParent)
    Files.write(record, Json.render(rec).getBytes("UTF-8"))
    layers.foreach(r => Files.write(Paths.get(record.toString + ".spans.jsonl"),
      r.spansJsonl.getBytes("UTF-8")))

    System.err.println(f"[perfbench] $name seed=$seed loads=$nLoads queries=$nQueries " +
      f"load_tail=p$loadTailP%.0f(n=$nLoads) query_tail=p$queryTailP%.0f(n=$nQueries) " +
      f"setup_rounds=${roundS.map(x => f"$x%.2f").mkString(",")} warmup=$warmupS%.2f session=$sessionS%.2f")
    spark.stop()
    val out = Seq[(String, Any)]("correct" -> correct, "attempted" -> math.max(1, h.attempted),
      "failed" -> h.failed, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Seq[(String, Any)]("value" -> v, "unit" -> u) }.toSeq)
    println(Json.render(out))
  }
}

/** Trace-only catalog walk after each load: public metadata and the
  * warehouse files, both outside the timed wall. */
final class Walker(catalog: GraftCatalog, ns: String, tables: Seq[String]) {
  private val seen = mutable.Map.empty[String, Long]
  var metadataVersions = 0L
  var metadataBytes = 0L
  var manifestsWritten = 0L
  var filesWritten = 0L
  var loadMetadataS = 0.0
  var jsonBytesLast = 0L
  var snapshots = 0L
  var dataFiles = 0L
  var deleteFiles = 0L
  var manifests = 0L
  var bodyReads = 0L

  private def scan(count: Boolean): Unit = tables.foreach { t =>
    FileTree.treeFiles(catalog.warehousePath.resolve(ns).resolve(t)).foreach { case (p, size) =>
      if (!seen.contains(p)) {
        seen(p) = size
        val f = Paths.get(p).getFileName.toString
        if (count) {
          if (f.matches("v\\d+\\.metadata\\.json")) { metadataVersions += 1; metadataBytes += size }
          else if (f.startsWith("manifest-")) manifestsWritten += 1
          else if (f.endsWith(".parquet")) filesWritten += 1
        }
      }
    }
  }

  def baseline(): Unit = scan(count = false)

  def walk(): Long = {
    val t0 = System.nanoTime()
    val br0 = graft.catalog.ManifestIO.bodyReads.get()
    scan(count = true)
    snapshots = 0; dataFiles = 0; deleteFiles = 0; manifests = 0
    tables.filter(catalog.tableExists(ns, _)).foreach { t =>
      val m0 = System.nanoTime()
      val table = catalog.loadTable(ns, t)
      val m = table.metadata
      loadMetadataS += (System.nanoTime() - m0) / 1e9
      if (t == tables.head) jsonBytesLast = Files.size(
        table.metadataDir.resolve(s"v${table.currentVersion}.metadata.json"))
      snapshots += m.snapshots.size
      m.currentSnapshot.foreach { s =>
        val refs = s.resolvedRefs.getOrElse(Nil)
        manifests += refs.size
        dataFiles += (if (refs.nonEmpty) refs.map(_.fileCount.toLong).sum
          else s.files.map(_.size.toLong).getOrElse(0L))
        deleteFiles += s.deletes.size + s.posDeletes.size
      }
    }
    bodyReads += graft.catalog.ManifestIO.bodyReads.get() - br0
    System.nanoTime() - t0
  }
}

/** Minimal JSON rendering for the result line and the record file. */
object Json {
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) &&
        kv.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      kv.map { case (k: String, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
