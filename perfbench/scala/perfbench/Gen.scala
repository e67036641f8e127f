package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input of a run is a pure function of
  * (workload, seed): the generator seeds one [[SplittableRandom]] from
  * both and draws everything from it in a fixed order. `digest` hashes
  * the generated inputs so a test can check that property.
  */
object Gen {

  def rng(workload: String, seed: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      scala.util.hashing.MurmurHash3.stringHash(workload).toLong)

  private val Syllables = Array("ba", "ko", "ri", "ten", "mu", "sal", "de",
    "ver", "lin", "po", "sha", "gra", "nel", "tor", "fi", "qua", "zen",
    "mor", "pe", "lu", "cas", "dri", "vo", "han")

  /** A lowercase pseudo-word of `parts` syllables. */
  def word(r: SplittableRandom, parts: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < parts) { sb ++= Syllables(r.nextInt(Syllables.length)); i += 1 }
    sb.toString
  }

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------
  // etl_reference: the paper's three sources at the notebook volumes
  // ---------------------------------------------------------------

  case class Item(product: String, aisle: String, qty: Int)

  /** One order. `product` strings are exactly as they appear in the
    * source (a few carry a non-ASCII character the pipeline strips). */
  case class Order(orderId: Long, userId: Long, orderNumber: Int, dow: Int,
                   hour: Int, dspo: String, items: Vector[Item]) {
    def detail: String =
      items.map(i => s"${i.product}|${i.aisle}|${i.qty}").mkString("~")
  }

  case class Dim(name: String, aisle: String, department: String)

  case class EtlInputs(dims: Vector[Dim],
                       csvFiles: Vector[(String, String)],
                       csvOrders: Vector[Order],
                       dbRows: Vector[Order],
                       dbOrders: Vector[Order],
                       fileWatermark: Int,
                       dbWatermark: Long,
                       payload: String) {
    def digestParts: Iterator[String] =
      csvFiles.iterator.flatMap { case (n, t) => Iterator(n, t) } ++
        dbRows.iterator.map(o => Seq(o.orderId, o.userId, o.orderNumber,
          o.dow, o.hour, o.dspo, o.detail).mkString(",")) ++
        Iterator(payload, fileWatermark.toString, dbWatermark.toString)
  }

  val Departments: Vector[String] = Vector("frozen", "other", "bakery",
    "produce", "alcohol", "international", "beverages", "pets",
    "dry goods pasta", "bulk", "personal care", "meat seafood", "pantry",
    "breakfast", "canned goods", "dairy eggs", "household", "babies",
    "snacks", "deli", "missing")

  /** A tenth of the notebook volumes (BASELINE.md: 49,688 products;
    * 33,367 CSV orders above the file watermark; 34,588 database rows of
    * which 33,054 lie above the order_id watermark; ~21 items per order,
    * 1.38 M exploded rows). At full volume one pass takes ~15 s on
    * local[4], too long for a closed loop of several passes per run. */
  val Scale = 10
  val DimRows = 49688 / Scale
  val CsvReadOrders = 33367 / Scale
  val CsvSkippedPerFile = 100
  val DbRows = 34588 / Scale
  val DbReadOrders = 33054 / Scale
  val Users = 50000 / Scale

  def etl(seed: Long): EtlInputs = {
    val r = rng("etl_reference", seed)
    val aisles = (0 until 134).map(i => s"${word(r, 2)} ${word(r, 2)} $i").toVector
    val dims = (0 until DimRows).map { i =>
      val base = s"${word(r, 2).capitalize} ${word(r, 3)}"
      val name = if (r.nextInt(40) == 0) s"$base, ${word(r, 2)} $i" else s"$base $i"
      Dim(name, aisles(r.nextInt(aisles.length)),
        Departments(r.nextInt(Departments.length)))
    }.toVector
    val byDept = dims.groupBy(_.department)
    def pool(depts: Seq[String]): Vector[Dim] = depts.flatMap(byDept).toVector
    val momPool = pool(graft.etl.ReferenceEtl.MomDepartments)
    val singlePool = pool(graft.etl.ReferenceEtl.SingleDepartments)
    val petPool = pool(graft.etl.ReferenceEtl.PetFriendlyDepartments)
    // user archetypes: some buy only inside one category's departments
    val userPool: Array[Vector[Dim]] = Array.tabulate(Users) { _ =>
      r.nextInt(20) match {
        case 0 | 1 => momPool
        case 2 => singlePool
        case 3 => petPool
        case _ => dims
      }
    }
    def item(pool: Vector[Dim]): Item = {
      val roll = r.nextInt(1000)
      if (roll < 5) // not in the product dimension: left join keeps it
        Item(s"Unlisted ${word(r, 3)} ${r.nextInt(1000)}", "missing", 1 + r.nextInt(5))
      else {
        val d = pool(r.nextInt(pool.length))
        val name = if (roll < 8) { // a non-ASCII char the pipeline strips
          val at = 1 + r.nextInt(d.name.length - 1)
          d.name.substring(0, at) + "\u00e9" + d.name.substring(at)
        } else d.name
        Item(name, d.aisle, 1 + r.nextInt(5))
      }
    }
    def order(id: Long, db: Boolean): Order = {
      val user = r.nextInt(Users)
      val n = 1 + r.nextInt(41)
      val pool = userPool(user)
      val hour = r.nextInt(100) match {
        case 0 => 24 // repaired to 0 by mergeAndTransform
        case 1 if db => -(1 + r.nextInt(23)) // repaired by abs in validate
        case _ => r.nextInt(24)
      }
      val dspo = if (r.nextInt(10) == 0) s"${r.nextInt(30)}.5" else s"${r.nextInt(31)}.0"
      Order(id, user.toLong, 1 + r.nextInt(99), r.nextInt(7), hour, dspo,
        Vector.fill(n)(item(pool)))
    }
    // CSV: files 00..05; the watermark keeps files numbered > 2. Files at
    // or below the watermark are listed but never read, so they stay small.
    val fileWatermark = 2
    var nextId = 1000000L
    val perFileRead = Array.tabulate(3)(i => CsvReadOrders / 3 + (if (i < CsvReadOrders % 3) 1 else 0))
    val files = ArrayBuffer.empty[(String, String)]
    val csvOrders = ArrayBuffer.empty[Order]
    (0 until 6).foreach { f =>
      val n = if (f > fileWatermark) perFileRead(f - 3) else CsvSkippedPerFile
      val sb = new StringBuilder
      (0 until n).foreach { i =>
        val o = order(nextId, db = false); nextId += 1
        if (f > fileWatermark) csvOrders += o
        val d = o.detail
        val detail = if (d.contains(',')) "\"" + d + "\"" else d
        sb ++= s"${o.orderId},${o.userId},${o.orderNumber},${o.dow},${o.hour},${o.dspo},$detail\n"
        if (i == n / 2) // one malformed row per file, dropped at scan
          sb ++= s"x${o.orderId},user,${o.orderNumber},${o.dow},${o.hour},${o.dspo},$detail\n"
      }
      files += ((f"$f%02d.csv", sb.toString))
    }
    // database: all-string rows; order_id watermark pushed down
    val dbWatermark = 5000000L + (DbRows - DbReadOrders)
    val dbRows = (0 until DbRows).map(i => order(5000001L + i, db = true)).toVector
    val payload = {
      val sb = new StringBuilder
      sb ++= """{"results":[{"columns":[{"name":"PRODUCT_NAME","type":""},""" +
        """{"name":"AISLE","type":""},{"name":"DEPARTMENT","type":""}],"items":["""
      dims.iterator.zipWithIndex.foreach { case (d, i) =>
        if (i > 0) sb += ','
        sb ++= s"""{"product_name":"${d.name}","aisle":"${d.aisle}","department":"${d.department}"}"""
      }
      sb ++= "]}]}"
      sb.toString
    }
    EtlInputs(dims, files.toVector, csvOrders.toVector, dbRows,
      dbRows.filter(_.orderId > dbWatermark), fileWatermark, dbWatermark,
      payload)
  }

  // ---------------------------------------------------------------
  // table_write: keyed rows and a seeded statement stream
  // ---------------------------------------------------------------

  /** One row of the benchmark tables: key, group, value, payload. */
  case class Row(k: Long, grp: Int, v: Long, s: String)

  def row(r: SplittableRandom, k: Long): Row =
    Row(k, r.nextInt(16), r.nextLong(1000000L), word(r, 3))

  /** A DML statement of the write workloads. `rows` is the source
    * batch of INSERT and MERGE; `lo`/`hi` bound DELETE and UPDATE. */
  sealed trait Stmt { def kind: String }
  case class Insert(rows: Vector[Row]) extends Stmt { def kind = "insert" }
  case class Merge(rows: Vector[Row]) extends Stmt { def kind = "merge" }
  case class Delete(lo: Long, hi: Long, grp: Int) extends Stmt { def kind = "delete" }
  case class Update(lo: Long, hi: Long, delta: Long) extends Stmt { def kind = "update" }
  case class Optimize() extends Stmt { def kind = "optimize" }
  case class Purge() extends Stmt { def kind = "purge" }

  val SeedRows = 200000
  val Batch = 1000

  /** Draws DML statements against a key space that grows with each
    * INSERT and MERGE: a pure function of the generator's state. */
  final class StmtGen(r: SplittableRandom, var maxKey: Long) {
    def make(kind: Int): Stmt = kind match {
      case 0 =>
        val rows = (1 to Batch).map(j => row(r, maxKey + j)).toVector
        maxKey += Batch; Insert(rows)
      case 1 =>
        // CDC upserts: half on recent keys, half scattered, a few new
        val recent = math.max(0L, maxKey - 20 * Batch)
        val keys = (Seq.fill(Batch / 2)(recent + r.nextLong(maxKey - recent + 1)) ++
          Seq.fill(Batch / 2 - 20)(r.nextLong(maxKey + 1)) ++
          (1 to 20).map(j => maxKey + j)).distinct
        maxKey += 20
        Merge(keys.map(k => row(r, k)).toVector)
      case 2 =>
        val lo = r.nextLong(maxKey + 1 - 4 * Batch)
        Delete(lo, lo + 4 * Batch - 1, r.nextInt(4))
      case 3 =>
        val lo = r.nextLong(maxKey + 1 - Batch)
        Update(lo, lo + Batch - 1, 1 + r.nextInt(100))
      case 4 => Optimize()
      case _ => Purge()
    }
  }

  /** The table_write statement stream: the seed rows, a warm-up of one
    * statement per kind, then INSERT, MERGE, DELETE, UPDATE, OPTIMIZE and
    * purge_tombstones in a fixed cycle, so every run's window holds the
    * same mix; keys, values and ranges are drawn from the seed. The seed
    * rows are a closed formula
    * of key and seed (see [[seedSql]]), so the table is filled by one
    * INSERT ... SELECT over `range` with no rows shipped from the driver. */
  final class WriteStream(val seed: Long) {
    private val r = rng("table_write", seed)
    private val g = new StmtGen(r, SeedRows.toLong - 1)
    private var i = 0
    val warmup: Vector[Stmt] = (0 to 5).map(g.make).toVector
    def next(): Stmt = { i += 1; g.make((i - 1) % 6) }
    def seedRows: Iterator[Row] = (0 until SeedRows).iterator.map(k => seedRow(k.toLong, seed))
    def digestParts(n: Int): Iterator[String] =
      seedRows.map(_.toString) ++ warmup.iterator.map(_.toString) ++
        Iterator.fill(n)(next().toString)
  }

  /** The seed folded into [0, 1000003): the seed rows' formulas stay far
    * from Long overflow (which ANSI SQL raises) for any seed. */
  def salt(seed: Long): Long = Math.floorMod(seed, 1000003L)

  def seedRow(k: Long, seed: Long): Row = {
    val s = salt(seed)
    Row(k, ((k * 7 + s) % 16).toInt, (k * 2654435761L + s * 97) % 1000000L,
      s"s${(k * 31 + s) % 100000}")
  }

  /** The same rows as [[seedRow]], in SQL over `range(SeedRows)`. */
  def seedSql(seed: Long): String = {
    val s = salt(seed)
    s"SELECT id AS k, CAST((id * 7 + $s) % 16 AS INT) AS grp, " +
      s"(id * 2654435761 + $s * 97) % 1000000 AS v, " +
      s"concat('s', CAST((id * 31 + $s) % 100000 AS STRING)) AS s FROM range($SeedRows)"
  }

  // ---------------------------------------------------------------
  // curation_dedup: a corpus with planted near-duplicate clusters
  // ---------------------------------------------------------------

  case class Doc(id: Long, text: String)

  /** `clusters` lists the ids of each planted near-duplicate cluster,
    * base document first. The corpus also holds verbatim copies and
    * documents too short for the quality rules. */
  case class Corpus(docs: Vector[Doc], clusters: Vector[Vector[Long]]) {
    def digestParts: Iterator[String] =
      docs.iterator.map(d => s"${d.id}\t${d.text}") ++
        clusters.iterator.map(_.mkString(","))
  }

  val CorpusDocs = 2000

  def corpus(seed: Long): Corpus = {
    val r = rng("curation_dedup", seed)
    // 5,000 random-letter words of 4-5 letters: mean word length inside
    // the quality rules' window, and unrelated documents share almost
    // no character 5-grams, so LSH candidates stay near-linear
    val vocab = Vector.fill(5000) {
      val sb = new StringBuilder
      (1 to 4 + r.nextInt(2)).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.toString
    }
    def text(n: Int): Vector[String] =
      Vector.tabulate(n)(i => if (i == 2) "the" else vocab(r.nextInt(vocab.length)))
    def edit(ws: Vector[String]): Vector[String] = {
      var out = ws
      (1 to 1 + r.nextInt(2)).foreach { _ =>
        val at = r.nextInt(out.length)
        out = out.updated(at, vocab(r.nextInt(vocab.length)))
      }
      out
    }
    val docs = ArrayBuffer.empty[Doc]
    val clusters = ArrayBuffer.empty[Vector[Long]]
    var exact = Map.empty[Long, Long]
    var low = Set.empty[Long]
    var id = 0L
    def add(t: String): Long = { id += 1; docs += Doc(id, t); id }
    while (docs.length < CorpusDocs) {
      r.nextInt(20) match {
        case 0 | 1 | 2 => // near-duplicate cluster of 2-5 documents
          val base = text(45 + r.nextInt(35))
          val members = add(base.mkString(" ")) +:
            Vector.fill(1 + r.nextInt(4))(add(edit(base).mkString(" ")))
          clusters += members
        case 3 => // a verbatim copy of an earlier singleton-or-member
          val src = docs(r.nextInt(docs.length))
          if (!low(src.id) && !exact.contains(src.id)) {
            val c = add(src.text); exact += (c -> src.id)
          }
        case 4 => // fails the quality rules: too short
          low += add(text(5 + r.nextInt(8)).mkString(" "))
        case _ => add(text(30 + r.nextInt(50)).mkString(" "))
      }
    }
    Corpus(docs.toVector, clusters.toVector)
  }
}
