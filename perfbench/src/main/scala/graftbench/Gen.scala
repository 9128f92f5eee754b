package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator. Every value is a pure function of the seed and
  * an index (splitmix64 hashing, no sequential RNG state), so the same
  * value can be computed in a Spark task, in the driver-side model that
  * checks the outputs, and in the generator's own test. Nothing is read
  * from disk: the tables are TPC-H shaped but synthetic. */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)

  /** Uniform in [0, 1). */
  def unit(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (h(seed, a, b, c) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform in [0, n). */
  def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)

  // stream tags, so unrelated draws from one seed never share a hash input
  private val TagOrder = 1L
  private val TagLine = 2L
  private val TagUpsert = 3L
  private val TagQuery = 4L
  private val TagWord = 5L
  private val TagDoc = 6L
  private val TagKind = 7L
  private val TagSource = 8L
  private val TagEdit = 9L

  // ---- orders / lineitem -------------------------------------------------

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_comment", StringType)))

  val Statuses: Array[String] = Array("F", "O", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Flags = Array("A", "N", "R")

  /** A small fixed comment vocabulary (TPC-H comments are word salad). */
  private val CommentWords: Array[String] =
    Array.tabulate(512)(i => word(0x5eedL, TagWord, i))

  private def comment(x: Long, words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      sb.append(CommentWords(below(mix(x + i), CommentWords.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** The order row for `key` as last written by load `version` (0 = the
    * initial load). */
  def order(seed: Long, key: Long, version: Int): Row = {
    val x = h(seed, TagOrder, key, version)
    Row(key, 1L + below(x, 15000L), orderStatus(seed, key, version),
      orderPrice(seed, key, version), Priorities(below(x >>> 9, 5).toInt), 0,
      comment(x, 6))
  }

  def orderStatus(seed: Long, key: Long, version: Int): String =
    Statuses(below(h(seed, TagOrder, key, version) >>> 17, 3).toInt)

  def orderPrice(seed: Long, key: Long, version: Int): Double =
    below(h(seed, TagOrder, key, version) >>> 21, 50000000L) / 100.0

  /** Line `line` (1-based) of a lineitem batch; `tag` names the batch. */
  def lineitem(seed: Long, orderkey: Long, line: Int, tag: Long): Row = {
    val x = h(seed, TagLine, orderkey * 8 + line, tag)
    val qty = (1 + below(x, 50)).toDouble
    Row(orderkey, line, 1L + below(x >>> 7, 20000L), qty,
      qty * (900 + below(x >>> 13, 100000L)) / 100.0,
      below(x >>> 31, 11) / 100.0, Flags(below(x >>> 37, 3).toInt),
      comment(x, 4))
  }

  /** Order-independent digest of one row, the unit of the table checks. */
  def rowHash(r: Row): Long = {
    var acc = 0x1234567L
    var i = 0
    while (i < r.length) {
      val v: Long = r.get(i) match {
        case null => 0x6e756c6cL
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case l: Long => l
        case n: Int => n.toLong
        case s: String => s.hashCode.toLong * 31L + s.length
        case o => o.hashCode.toLong
      }
      acc = mix(acc ^ v)
      i += 1
    }
    acc
  }

  /** Keys of one upsert batch of `size` rows against a table holding keys
    * `1..maxKey`: `updateShare` are updates (80% drawn from the newest 10%
    * of keys, 20% uniform), the rest are new keys `maxKey+1 ..`. Keys are
    * distinct within a batch (a batch with duplicate primary keys is a
    * user error the writer rejects). */
  final case class UpsertKeys(updates: Array[Long], fresh: Array[Long]) {
    def all: Array[Long] = updates ++ fresh
  }

  def upsertKeys(seed: Long, load: Int, maxKey: Long, size: Int,
      updateShare: Double = 0.7): UpsertKeys = {
    val nUpd = math.round(size * updateShare).toInt
    val hotLo = maxKey - math.max(1L, maxKey / 10)
    val seen = new java.util.HashSet[java.lang.Long]()
    val upd = new Array[Long](nUpd)
    var i = 0
    var draw = 0L
    while (i < nUpd) {
      val x = h(seed, TagUpsert, load, draw)
      draw += 1
      val k =
        if (below(x, 10) < 8) hotLo + 1 + below(x >>> 8, maxKey - hotLo)
        else 1 + below(x >>> 8, maxKey)
      if (seen.add(k)) { upd(i) = k; i += 1 }
    }
    val fresh = Array.tabulate(size - nUpd)(j => maxKey + 1 + j)
    UpsertKeys(upd, fresh)
  }

  // ---- queries -----------------------------------------------------------

  val QueryClasses: Seq[String] =
    Seq("sql_point", "sql_range", "sql_agg", "sql_join", "df_point", "df_range")

  /** The serve query mix, repeated: 3 sql_point, 1 sql_range, 1 sql_agg,
    * 1 sql_join, 1 df_point, 1 df_range per eight queries. */
  final case class Query(cls: String, lo: Long, hi: Long)

  val CycleClasses: Seq[String] = Seq("sql_point", "sql_range", "sql_point",
    "sql_agg", "df_point", "sql_join", "sql_point", "df_range")

  /** Query number `q` of a run. Point keys are half from `recent` (keys the
    * last load wrote), half uniform over `1..maxKey`; ranges span
    * `rangeWidth` keys. */
  def query(seed: Long, q: Long, maxKey: Long, recent: Array[Long],
      rangeWidth: Long): Query = {
    val cls = CycleClasses(Math.floorMod(q, CycleClasses.size.toLong).toInt)
    val x = h(seed, TagQuery, q)
    cls match {
      case "sql_point" | "df_point" =>
        val k =
          if (recent.nonEmpty && (x & 1L) == 0L)
            recent(below(x >>> 1, recent.length).toInt)
          else 1 + below(x >>> 1, maxKey)
        Query(cls, k, k)
      case "sql_agg" => Query(cls, 0, 0)
      case _ =>
        val lo = 1 + below(x >>> 1, math.max(1L, maxKey - rangeWidth))
        Query(cls, lo, lo + rangeWidth - 1)
    }
  }

  // ---- documents ---------------------------------------------------------

  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  val VocabSize = 50000
  val DocWords = 80

  /** A pseudo-word of 4-9 lowercase letters. */
  def word(seed: Long, tag: Long, k: Long): String = {
    val x = h(seed, tag, k)
    val n = 4 + below(x, 6).toInt
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = ('a' + below(mix(x + i), 26)).toChar; i += 1 }
    new String(cs)
  }

  /** Document layout: chunk 0 is the committed corpus (`corpus` docs),
    * chunk c >= 1 is the c-th stream chunk (`chunkSize` docs). */
  final case class DocLayout(seed: Long, corpus: Int, chunkSize: Int,
      nearShare: Double = 0.20, exactShare: Double = 0.05) {

    def size(c: Int): Int = if (c == 0) corpus else chunkSize

    def docId(c: Int, i: Int): Long =
      if (c == 0) i + 1L else corpus + (c - 1).toLong * chunkSize + i + 1

    /** 0 = original, 1 = near copy, 2 = exact copy. */
    def kind(c: Int, i: Int): Int =
      if (c == 0) 0
      else {
        val u = unit(seed, TagKind, c, i)
        if (u < nearShare) 1 else if (u < nearShare + exactShare) 2 else 0
      }

    /** Id of the original a copy at (c, i) copies: an original of the
      * corpus or of an earlier chunk. Copies only ever point at earlier
      * chunks: the stream dedups each micro-batch against the committed
      * corpus, not within the batch. */
    def source(c: Int, i: Int): Long = {
      var t = 0L
      while (true) {
        val x = h(seed, TagSource, c.toLong * 1000003L + i, t)
        val c2 = below(x, c).toInt
        val i2 = below(x >>> 20, size(c2)).toInt
        if (kind(c2, i2) == 0) return docId(c2, i2)
        t += 1
      }
      -1L
    }

    def words(id: Long): Array[String] =
      Array.tabulate(DocWords)(j =>
        word(seed, TagWord, below(h(seed, TagDoc, id, j), VocabSize)))

    /** The copy's replaced position and word: one interior word changes,
      * which changes 3 of 78 three-word shingles (Jaccard 75/81). */
    def edit(id: Long): (Int, String) = {
      val x = h(seed, TagEdit, id)
      (1 + below(x, DocWords - 2).toInt,
        word(seed, TagWord ^ 0x77L, below(x >>> 16, VocabSize)))
    }

    def docWords(c: Int, i: Int): Array[String] = kind(c, i) match {
      case 0 => words(docId(c, i))
      case 2 => words(source(c, i))
      case _ =>
        val w = words(source(c, i))
        val (p, repl) = edit(docId(c, i))
        w(p) = if (w(p) == repl) repl + "x" else repl
        w
    }

    def doc(c: Int, i: Int): Row =
      Row(docId(c, i), docWords(c, i).mkString(" "))
  }

  // ---- digest ------------------------------------------------------------

  /** SHA-256 over a fixed prefix of every input stream of `seed` — equal
    * digests mean byte-identical inputs for the prefix. */
  def digest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    (1L to 200L).foreach(k => put(order(seed, k, 0).mkString("|")))
    (1 to 3).foreach { l =>
      val u = upsertKeys(seed, l, 150000L, 3000)
      put(u.updates.mkString(",")); put(u.fresh.mkString(","))
      u.updates.take(50).foreach(k => put(order(seed, k, l).mkString("|")))
    }
    (1L to 100L).foreach(k => put(lineitem(seed, k, 1, 7L).mkString("|")))
    (0L until 40L).foreach(q =>
      put(query(seed, q, 150000L, Array(1L, 2L, 3L), 2000L).toString))
    val docs = DocLayout(seed, 200, 100)
    for (c <- 0 to 3; i <- 0 until docs.size(c)) put(docs.doc(c, i).mkString("|"))
    md.digest().map("%02x".format(_)).mkString
  }
}
