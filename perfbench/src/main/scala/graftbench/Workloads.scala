package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import graft.catalog.GraftCatalog
import graft.pipeline.{GraftPipeline, MaintenancePolicy}
import graft.streaming.StreamingLoader
import graft.write.{Append, Maintenance, Merge, WriteConfig}
import scala.collection.mutable

/** Driver-side model of `orders` and `lineitem`: keys `1..maxKey` all
  * exist, each key's order row is `Gen.order(seed, key, version(key))`,
  * and every write of a key (the initial load included) appended its 4
  * lines. */
final class OrdersModel(seed: Long, capacity: Int) {
  val version = new Array[Int](capacity + 1)
  val writes = new Array[Int](capacity + 1)
  var maxKey = 0L
  var lineitemRows = 0L
  val statusCount = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def reset(n: Long): Unit = {
    java.util.Arrays.fill(version, 0)
    java.util.Arrays.fill(writes, 0)
    java.util.Arrays.fill(writes, 1, n.toInt + 1, 1)
    maxKey = n
    lineitemRows = 4 * n
    statusCount.clear()
    (1L to n).foreach(k => statusCount(Gen.orderStatus(seed, k, 0)) += 1)
  }

  def write(keys: Array[Long], v: Int): Unit = keys.foreach { k =>
    if (k <= maxKey) statusCount(Gen.orderStatus(seed, k, version(k.toInt))) -= 1
    version(k.toInt) = v
    writes(k.toInt) += 1
    lineitemRows += 4
    statusCount(Gen.orderStatus(seed, k, v)) += 1
    if (k > maxKey) maxKey = k
  }

  def price(k: Long): Double = Gen.orderPrice(seed, k, version(k.toInt))

  def keysIn(lo: Long, hi: Long): Long = math.max(0L, math.min(hi, maxKey) - lo + 1)

  def linesIn(lo: Long, hi: Long): Long =
    (lo to math.min(hi, maxKey)).map(k => 4L * writes(k.toInt)).sum

  /** Order-independent digest of the whole table: (rows, sum of row hashes). */
  def digest: (Long, Long) = {
    var s = 0L
    var k = 1L
    while (k <= maxKey) { s += Gen.rowHash(Gen.order(seed, k, version(k.toInt))); k += 1 }
    (maxKey, s)
  }
}

/** The output checks as pure functions of what was read back and what
  * the model expects, so each can be shown to fail on a perturbed input. */
object Checks {
  /** Order-independent (rows, sum of row hashes) of a table read back. */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.foldLeft(0L)((s, r) => s + Gen.rowHash(r)))

  /** `orders` equals last-writer-wins over every generated batch. */
  def ordersMatch(rows: Array[Row], model: OrdersModel): Boolean =
    digest(rows) == model.digest

  /** `_dlt_loads` holds exactly one status-0 row per issued load id. */
  def ledgerMatch(rows: Seq[(String, Long)], loadIds: Seq[String]): Boolean =
    rows.size == loadIds.size && rows.forall(_._2 == 0L) &&
      rows.map(_._1).toSet == loadIds.toSet

  /** `docs` (doc_id, kind: 0 original, 1 near copy, 2 exact copy). */
  def copiesAbsorbed(docs: Seq[(Long, Int)], kept: Set[Long]): Boolean =
    docs.forall { case (id, k) => k == 0 || !kept.contains(id) }

  def originalsKept(docs: Seq[(Long, Int)], kept: Set[Long]): Boolean =
    docs.forall { case (id, k) => k != 0 || kept.contains(id) } &&
      kept.size == docs.count(_._2 == 0)
}

object Tables {
  def initialOrders(h: Harness, seed: Long, n: Long): DataFrame =
    h.spark.range(1, n + 1, 1, h.spark.sparkContext.defaultParallelism)
      .map(k => Gen.order(seed, k, 0))(Encoders.row(Gen.OrdersSchema))

  def initialLineitem(h: Harness, seed: Long, n: Long): DataFrame =
    h.spark.range(1, n + 1, 1, h.spark.sparkContext.defaultParallelism)
      .flatMap(k => (1 to 4).map(l => Gen.lineitem(seed, k, l, 0L)))(
        Encoders.row(Gen.LineitemSchema))

  def ordersCfg(mor: Boolean): WriteConfig = WriteConfig(
    primaryKey = Seq("o_orderkey"), requiredColumns = Set("o_orderkey"),
    retryUnitMs = 10, mergeOnRead = mor,
    bloomColumns = if (mor) Seq("o_orderkey") else Nil)

  val LineitemCfg: WriteConfig =
    WriteConfig(requiredColumns = Set("l_orderkey"), retryUnitMs = 10)
}

/** Serving while loads land: `orders` is merge-on-read with a key bloom
  * and auto-applied deletes (at more than 4 delete files), `lineitem` is
  * appended, and a maintenance policy compacts and expires every 10
  * loads. The closed loop alternates one pipeline load (an `orders`
  * upsert, 70% updates of which 80% hit the newest 10% of keys, plus 4
  * `lineitem` rows per order) with `queriesPerLoad` queries drawn in turn
  * from the eight-query mix over both read surfaces. */
final class ServeMor(seed: Long, initialOrders: Long, upsertRows: Int,
    queriesPerLoad: Int, rangeWidth: Long) extends Workload {
  val name = "serve_mor"
  var ns = ""
  val nominalStepS = 3.3
  require(Gen.CycleClasses.size % queriesPerLoad == 0,
    "a whole query cycle must take whole loads")
  val cycleSteps = Gen.CycleClasses.size / queriesPerLoad
  val tables = Seq("orders", "lineitem", GraftPipeline.LoadsTable)
  private val model = new OrdersModel(seed, initialOrders.toInt + upsertRows * 400)
  private var catalog: GraftCatalog = _
  private var pipeline: GraftPipeline = _
  private val loadIds = mutable.ArrayBuffer.empty[String]
  private var recent = Array.empty[Long]
  private var v = 0
  private var q = 0L

  def setup(h: Harness, ns0: String): Unit = {
    ns = ns0
    catalog = new GraftCatalog(h.spark, h.warehouse.toString)
    pipeline = new GraftPipeline(catalog, ns, policy = MaintenancePolicy(
      compactEveryLoads = 5, expireEveryLoads = 5, keepSnapshots = 5,
      retryUnitMs = 10))
    pipeline.initializeStorage()
    pipeline.stage("orders", Tables.initialOrders(h, seed, initialOrders),
      Merge(), Tables.ordersCfg(mor = true))
    pipeline.stage("lineitem", Tables.initialLineitem(h, seed, initialOrders),
      Append, Tables.LineitemCfg)
    loadIds.clear()
    loadIds += s"$ns-init"
    pipeline.completeLoad(s"$ns-init")
    // auto-apply fires on the delete-file count alone (more than 4), so a
    // run's loads meet the rewrite at fixed positions, not by ratio drift
    catalog.loadTable(ns, "orders").commit(m => m.copy(properties = m.properties +
      (Maintenance.AutoApplyDeletesProp -> "true") +
      (Maintenance.MaxDeleteFilesProp -> "4") +
      (Maintenance.MaxDeleteRatioProp -> "1.0")), unitMs = 10)
    model.reset(initialOrders)
    recent = Array.empty
  }

  /** Two loads (the first leaves a delete backlog) around every query
    * class once. */
  def warmup(h: Harness): Unit = {
    upsert(h)
    Gen.CycleClasses.indices.foreach(j =>
      runQuery(h, Gen.query(seed, -1 - j, model.maxKey, recent, rangeWidth)))
    upsert(h)
  }

  private def upsert(h: Harness): Boolean = {
    v += 1
    val keys = Gen.upsertKeys(seed, v, model.maxKey, upsertRows)
    val all = keys.all
    val orders = all.map(k => Gen.order(seed, k, v)).toSeq
    val lines = all.toSeq.flatMap(k => (1 to 4).map(l => Gen.lineitem(seed, k, l, v.toLong)))
    val (odf, ldf) = h.tracer.span("gen")(
      (h.df(orders, Gen.OrdersSchema), h.df(lines, Gen.LineitemSchema)))
    val id = s"$ns-load-$v"
    val bytes = orders.map(Stats.rowBytes).sum + lines.map(Stats.rowBytes).sum
    val ok = h.load("load", bytes) {
      h.tracer.span("stage") {
        pipeline.stage("orders", odf, Merge(), Tables.ordersCfg(mor = true))
        pipeline.stage("lineitem", ldf, Append, Tables.LineitemCfg)
      }
      h.tracer.span("complete_load")(pipeline.completeLoad(id))
      None
    }
    if (ok) {
      model.write(all, v)
      loadIds += id
      recent = all
      if (h.timing) h.rowsCommitted += orders.size + lines.size
    }
    ok
  }

  private def count(r: Array[Row]): Any = r.headOption.map(_.getLong(0)).getOrElse("none")
  private def price(r: Array[Row]): Any = r.headOption.map(_.getDouble(0)).getOrElse("none")

  private def runQuery(h: Harness, x: Gen.Query): Unit = {
    val t = s"graft.$ns.orders"
    val range = s"[${x.lo},${x.hi}]"
    x.cls match {
      case "sql_point" =>
        h.query(x.cls)(h.spark.sql(
          s"SELECT o_totalprice FROM $t WHERE o_orderkey = ${x.lo}"))
          .foreach(r => h.expect(x.cls, s"key ${x.lo}", model.price(x.lo), price(r)))
      case "sql_range" =>
        h.query(x.cls)(h.spark.sql(
          s"SELECT count(*) FROM $t WHERE o_orderkey BETWEEN ${x.lo} AND ${x.hi}"))
          .foreach(r => h.expect(x.cls, range, model.keysIn(x.lo, x.hi), count(r)))
      case "sql_agg" =>
        h.query(x.cls)(h.spark.sql(
          s"SELECT o_orderstatus, count(*) FROM $t GROUP BY o_orderstatus"))
          .foreach { r =>
            val expected = Gen.Statuses.map(s => s -> model.statusCount(s))
              .filter(_._2 > 0).sorted.mkString(",")
            val observed = r.map(y => y.getString(0) -> y.getLong(1)).sorted.mkString(",")
            h.expect(x.cls, "status counts", expected, observed)
          }
      case "sql_join" =>
        h.query(x.cls)(h.spark.sql(
          s"""SELECT count(*) FROM $t o JOIN graft.$ns.lineitem l
             |ON o.o_orderkey = l.l_orderkey
             |WHERE o.o_orderkey BETWEEN ${x.lo} AND ${x.hi}""".stripMargin))
          .foreach(r => h.expect(x.cls, range, model.linesIn(x.lo, x.hi), count(r)))
      case "df_point" =>
        h.query(x.cls)(catalog.loadTable(ns, "orders")
          .readPointLookup("o_orderkey", x.lo).select("o_totalprice"))
          .foreach(r => h.expect(x.cls, s"key ${x.lo}", model.price(x.lo), price(r)))
      case "df_range" =>
        h.query(x.cls)(catalog.loadTable(ns, "orders")
          .scanRange("o_orderkey", x.lo, x.hi).groupBy().count())
          .foreach(r => h.expect(x.cls, range, model.keysIn(x.lo, x.hi), count(r)))
    }
  }

  def step(h: Harness, i: Int): Boolean = {
    val ok = upsert(h)
    (0 until queriesPerLoad).foreach { _ =>
      runQuery(h, Gen.query(seed, q, model.maxKey, recent, rangeWidth))
      q += 1
    }
    ok
  }

  def checks(h: Harness): Unit = {
    h.check("orders equals last-writer-wins over the generated batches")(
      Checks.ordersMatch(h.spark.table(s"graft.$ns.orders")
        .select(Gen.OrdersSchema.fieldNames.toSeq.map(col): _*).collect(), model))
    h.check("lineitem row count")(
      h.spark.sql(s"SELECT count(*) FROM graft.$ns.lineitem").collect()(0)
        .getLong(0) == model.lineitemRows)
    h.check("_dlt_loads has one status-0 row per load")(
      Checks.ledgerMatch(pipeline.loads().select("load_id", "status").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq, loadIds.toSeq))
    h.checkAnswers()
  }
}

/** Streaming near-dedup: each generated chunk arrives as one parquet file
  * and runs as one `AvailableNow` micro-batch of `startNearDeduped`. */
final class StreamDedup(seed: Long, corpus: Int, chunkSize: Int,
    queriesPerBatch: Int, maxChunks: Int) extends Workload {
  val name = "stream_dedup"
  var ns = ""
  val nominalStepS = 6.0
  val cycleSteps = 1
  val tables = Seq("docs", "sigs", "sigs_bands")
  val layout = Gen.DocLayout(seed, corpus, chunkSize)
  private var loader: StreamingLoader = _
  private var src: Path = _
  private var ckpt: Path = _
  private var stream: DataFrame = _
  private var chunk = 0
  private val done = mutable.ArrayBuffer.empty[Int]

  private def staged(h: Harness): Path = h.workDir.resolve("chunks")

  /** All chunks, written once per run as one parquet file per chunk. */
  private def stageChunks(h: Harness): Unit = if (!Files.exists(staged(h))) {
    val total = corpus.toLong + maxChunks.toLong * chunkSize
    val schema = Gen.DocsSchema.add("chunk", "int")
    val lay = layout
    h.spark.range(0, total, 1, h.spark.sparkContext.defaultParallelism).map { g =>
      val (c, i) =
        if (g < lay.corpus) (0, g.toInt)
        else (1 + ((g - lay.corpus) / lay.chunkSize).toInt,
          ((g - lay.corpus) % lay.chunkSize).toInt)
      Row(lay.docId(c, i), lay.docWords(c, i).mkString(" "), c)
    }(Encoders.row(schema))
      .repartition(col("chunk")).write.partitionBy("chunk")
      .parquet(staged(h).toString)
  }

  def setup(h: Harness, ns0: String): Unit = {
    ns = ns0
    stageChunks(h)
    val catalog = new GraftCatalog(h.spark, h.warehouse.toString)
    catalog.createNamespace(ns)
    loader = new StreamingLoader(catalog)
    src = h.workDir.resolve(s"src-$ns")
    ckpt = h.workDir.resolve(s"ckpt-$ns")
    Files.createDirectories(src)
    stream = h.spark.readStream.schema(Gen.DocsSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    chunk = 0
    done.clear()
    step(h, -1) // the corpus is the first micro-batch
  }

  /** Two chunks: a micro-batch's first dedup against a non-empty corpus
    * is still compiling (the JIT) and varies most. */
  def warmup(h: Harness): Unit = { step(h, -2); step(h, -3) }

  def step(h: Harness, i: Int): Boolean = {
    if (chunk > maxChunks) throw new IllegalStateException(
      s"stream_dedup ran out of staged chunks ($maxChunks); stage more")
    val c = chunk
    chunk += 1
    h.tracer.span("gen") {
      val dir = staged(h).resolve(s"chunk=$c")
      val f = Files.list(dir).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createLink(src.resolve(s"chunk-$c.parquet"), f)
    }
    val bytes = (0 until layout.size(c)).map(j => Stats.rowBytes(layout.doc(c, j))).sum
    val ok = h.load("batch", bytes) {
      val q = loader.startNearDeduped(stream, ns, "docs", "sigs",
        cfg = WriteConfig(retryUnitMs = 10), queryName = s"dedup_$ns",
        checkpoint = Some(ckpt.toString))
      try q.awaitTermination() finally q.stop()
      q.exception.foreach(e => throw e)
      val p = q.recentProgress.filter(_.numInputRows > 0)
      require(p.length == 1 && p.head.numInputRows == layout.size(c),
        s"chunk $c must run as one micro-batch of ${layout.size(c)} rows, " +
          s"saw ${p.map(_.numInputRows).mkString(",")}")
      Some(p.head.durationMs.get("triggerExecution").toDouble / 1000.0)
    }
    if (ok) {
      done += c
      if (h.timing) {
        h.rowsCommitted += layout.size(c)
        h.docsKept += (0 until layout.size(c)).count(j => layout.kind(c, j) == 0)
      }
    }
    // read-your-write: planted copies must be gone, originals present
    if (c > 0) (0 until queriesPerBatch).foreach { n =>
      val j = Gen.below(Gen.mix(c * 31L + n), layout.size(c)).toInt
      val id = layout.docId(c, j)
      h.query("sql_point")(h.spark.sql(
        s"SELECT count(*) FROM graft.$ns.docs WHERE doc_id = $id"))
        .foreach(r => h.expect("sql_point", s"doc $id",
          if (layout.kind(c, j) == 0) 1L else 0L, r.head.getLong(0)))
    }
    ok
  }

  def checks(h: Harness): Unit = {
    val kept = h.spark.sql(s"SELECT doc_id FROM graft.$ns.docs").collect()
      .map(_.getLong(0)).toSet
    val all = done.toSeq.flatMap(c => (0 until layout.size(c)).map(i =>
      (layout.docId(c, i), layout.kind(c, i))))
    h.check("every planted copy is absorbed")(Checks.copiesAbsorbed(all, kept))
    h.check("every original is kept")(Checks.originalsKept(all, kept))
    h.checkAnswers()
  }
}
