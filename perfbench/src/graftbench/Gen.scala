package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.chaining._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Column kinds of the generated DMS files. Values are held as:
  * Long, Int, unscaled Long (decimal), String, Int days (date), Boolean,
  * Long micros (timestamp without time zone — the DMS parquet shape,
  * `isAdjustedToUTC=false`, which the engine's source normalizes). */
sealed trait Kind
case object KLong extends Kind
case object KInt extends Kind
final case class KDec(precision: Int, scale: Int) extends Kind
case object KStr extends Kind
case object KDate extends Kind
case object KBool extends Kind
case object KTsNtz extends Kind

final case class TableSpec(name: String, cols: Seq[(String, Kind)], keys: Seq[String]) {
  val index: Map[String, Int] = cols.map(_._1).zipWithIndex.toMap
  def names: Seq[String] = cols.map(_._1)

  val parquetSchema: MessageType = {
    val b = Types.buildMessage()
    cols.foreach { case (n, k) =>
      k match {
        case KLong => b.optional(INT64).named(n)
        case KInt => b.optional(INT32).named(n)
        case KDec(p, s) => b.optional(INT64).as(LTA.decimalType(s, p)).named(n)
        case KStr => b.optional(BINARY).as(LTA.stringType()).named(n)
        case KDate => b.optional(INT32).as(LTA.dateType()).named(n)
        case KBool => b.optional(BOOLEAN).named(n)
        case KTsNtz => b.optional(INT64)
          .as(LTA.timestampType(false, LTA.TimeUnit.MICROS)).named(n)
      }
    }
    b.named(name)
  }

  /** Write rows as one parquet file (snappy, one writer, no Spark):
    * the same rows always give the same bytes. */
  def write(path: Path, rows: Iterable[Array[Any]]): Long = {
    Files.createDirectories(path.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(parquetSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val f = new SimpleGroupFactory(parquetSchema)
    try rows.foreach { r =>
      val g = f.newGroup()
      var i = 0
      while (i < cols.length) {
        val n = cols(i)._1
        (cols(i)._2, r(i)) match {
          case (KLong | KTsNtz, v: Long) => g.append(n, v)
          case (_: KDec, v: Long) => g.append(n, v)
          case (KInt | KDate, v: Int) => g.append(n, v)
          case (KStr, v: String) => g.append(n, v)
          case (KBool, v: Boolean) => g.append(n, v)
          case (k, v) => throw new IllegalArgumentException(s"$n: $k cannot hold $v")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
    Files.size(path)
  }
}

/** The DMS change columns every generated table carries: the operation,
  * the change sequence (fixed-width numeric string, so string order is
  * numeric order), the tombstone flag and the capture timestamp. */
object Dms {
  val cols: Seq[(String, Kind)] = Seq(
    "Op" -> KStr, "trx_seq" -> KStr, "_hoodie_is_deleted" -> KBool, "dms_ts" -> KTsNtz)
  val EpochMicros: Long = 1767225600L * 1000000L // 2026-01-01T00:00:00
  def seqStr(seq: Long): String = f"$seq%020d"
}

object Specs {
  val lineitem = TableSpec("lineitem", Seq(
    "l_orderkey" -> KLong, "l_linenumber" -> KInt, "l_partkey" -> KLong,
    "l_suppkey" -> KLong, "l_quantity" -> KDec(12, 2), "l_extendedprice" -> KDec(12, 2),
    "l_discount" -> KDec(4, 2), "l_tax" -> KDec(4, 2), "l_returnflag" -> KStr,
    "l_linestatus" -> KStr, "l_shipdate" -> KDate, "l_shipmode" -> KStr,
    "l_comment" -> KStr) ++ Dms.cols, Seq("l_orderkey", "l_linenumber"))
  val orders = TableSpec("orders", Seq(
    "o_orderkey" -> KLong, "o_custkey" -> KLong, "o_orderstatus" -> KStr,
    "o_totalprice" -> KDec(12, 2), "o_orderdate" -> KDate,
    "o_orderpriority" -> KStr) ++ Dms.cols, Seq("o_orderkey"))
  val customer = TableSpec("customer", Seq(
    "c_custkey" -> KLong, "c_name" -> KStr, "c_nationkey" -> KInt,
    "c_mktsegment" -> KStr, "c_acctbal" -> KDec(12, 2)) ++ Dms.cols, Seq("c_custkey"))
  val documents = TableSpec("documents", Seq(
    "doc_id" -> KLong, "text" -> KStr, "lang" -> KStr, "source" -> KStr,
    "n_chars" -> KLong) ++ Dms.cols, Seq("doc_id"))
}

/** One landed file of the raw zone. `batch` 0 is the full load; CDC
  * batches count from 1. */
final case class Landed(path: Path, batch: Int, bytes: Long, rows: Int)

/** A DMS raw zone for one table: full-load files at the top
  * (`LOAD0000000n.parquet`) and CDC files in date-partitioned
  * directories (`yyyy/MM/dd/yyyyMMdd-HHmmssSSS-n.parquet`), the layout
  * DMS writes with date partitioning on. */
final class RawZone(val root: Path, val spec: TableSpec) {
  val landed = mutable.ArrayBuffer.empty[Landed]

  def landFull(rows: IndexedSeq[Array[Any]], files: Int): Seq[Landed] = {
    val per = (rows.size + files - 1) / files
    rows.grouped(math.max(1, per)).zipWithIndex.map { case (part, i) =>
      val p = root.resolve(f"LOAD${i + 1}%08d.parquet")
      Landed(p, 0, spec.write(p, part), part.size)
    }.toSeq.tap(landed ++= _)
  }

  /** Land CDC batch `b` split over `files` files. Rows are assigned to
    * files at random, so a later version of a key can sit in an earlier
    * file: `trx_seq` is out of order across the batch's files. */
  def landBatch(b: Int, rows: IndexedSeq[Array[Any]], files: Int,
      rnd: java.util.Random): Seq[Landed] = {
    val parts = Array.fill(files)(mutable.ArrayBuffer.empty[Array[Any]])
    rows.foreach(r => parts(rnd.nextInt(files)) += r)
    val minutes = b.toLong * 7
    val day = 1 + (minutes / 1440).toInt
    val hh = (minutes % 1440) / 60
    val mm = minutes % 60
    val dir = root.resolve(f"2026/01/$day%02d")
    parts.zipWithIndex.filter(_._1.nonEmpty).map { case (part, i) =>
      val p = dir.resolve(f"202601$day%02d-$hh%02d$mm%02d00000-${i + 1}.parquet")
      Landed(p, b, spec.write(p, part), part.size)
    }.toSeq.tap(landed ++= _)
  }
}

/** Traffic shape of a CDC stream over `lineitem`. `recentOrders` > 0
  * draws updates and deletes from the newest that many orders; 0 draws
  * them uniformly from all live keys. `deleteInsertedOnly` deletes only
  * lines the stream itself inserted, so the full-load rows keep their
  * count (the reader of the mixed workload relies on it). */
final case class LineitemTraffic(
    newOrders: Int, updatedKeys: Int, maxVersions: Int, deletes: Int,
    recentOrders: Int, deleteInsertedOnly: Boolean, filesPerBatch: Int)

/** Generator model of a DMS-fed TPC-H-like schema. It keeps the current
  * image of every live row in memory only to make updates and deletes
  * refer to real keys; the correctness reference never reads it, it
  * recomputes the expected state from the landed files. */
final class LineitemGen(seed: Long, baseOrders: Int) {
  private val rnd = new java.util.Random(seed)
  private var seq: Long = 1000000L
  private val rows = mutable.HashMap.empty[Long, Array[Any]]
  private val liveKeys = new KeySet
  private val inserted = new KeySet
  private val ix = Specs.lineitem.index
  var maxOrder: Long = 0L
  val baseMaxOrder: Long = baseOrders.toLong
  private val shipmodes = Array("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  private val status = Array("O", "F")

  private def key(o: Long, l: Int): Long = o * 8 + l

  private def nextSeq(): Long = { seq += 1; seq }

  private def comment(): String = Words.phrase(rnd, 3 + rnd.nextInt(6))

  private def stamp(r: Array[Any], op: String, s: Long, deleted: Boolean): Array[Any] = {
    val c = r.clone()
    c(ix("Op")) = op
    c(ix("trx_seq")) = Dms.seqStr(s)
    c(ix("_hoodie_is_deleted")) = deleted
    c(ix("dms_ts")) = Dms.EpochMicros + s * 1000L
    c
  }

  private def newLine(o: Long, l: Int, orderDate: Int): Array[Any] = {
    val qty = 100L * (1 + rnd.nextInt(50))
    val price = qty * (900 + rnd.nextInt(100000)) / 100
    val r = new Array[Any](Specs.lineitem.cols.size)
    r(ix("l_orderkey")) = o
    r(ix("l_linenumber")) = l
    r(ix("l_partkey")) = 1L + rnd.nextInt(20000)
    r(ix("l_suppkey")) = 1L + rnd.nextInt(1000)
    r(ix("l_quantity")) = qty
    r(ix("l_extendedprice")) = price
    r(ix("l_discount")) = rnd.nextInt(11).toLong
    r(ix("l_tax")) = rnd.nextInt(9).toLong
    r(ix("l_returnflag")) = "ANR".charAt(rnd.nextInt(3)).toString
    r(ix("l_linestatus")) = status(rnd.nextInt(2))
    r(ix("l_shipdate")) = orderDate + 1 + rnd.nextInt(120)
    r(ix("l_shipmode")) = shipmodes(rnd.nextInt(shipmodes.length))
    r(ix("l_comment")) = comment()
    r
  }

  /** Order dates rise with the order key, as in a live OLTP source. */
  def orderDate(o: Long): Int = 19000 + (o * 2000 / math.max(1L, baseMaxOrder)).toInt

  private def addOrder(out: mutable.ArrayBuffer[Array[Any]], markInserted: Boolean): Unit = {
    maxOrder += 1
    val o = maxOrder
    (1 to 1 + rnd.nextInt(7)).foreach { l =>
      val r = newLine(o, l, orderDate(o))
      val s = stamp(r, "I", nextSeq(), deleted = false)
      rows(key(o, l)) = s
      liveKeys.add(key(o, l))
      if (markInserted) inserted.add(key(o, l))
      out += s
    }
  }

  /** The DMS full load: every base order's lines, operation `I`. */
  def fullLoad(): IndexedSeq[Array[Any]] = {
    val out = mutable.ArrayBuffer.empty[Array[Any]]
    (1 to baseOrders).foreach(_ => addOrder(out, markInserted = false))
    out.toIndexedSeq
  }

  private def pickKey(t: LineitemTraffic): Long =
    if (t.recentOrders <= 0) liveKeys.random(rnd)
    else {
      var k = -1L
      while (k < 0) {
        val o = maxOrder - rnd.nextInt(t.recentOrders)
        val c = key(o, 1 + rnd.nextInt(7))
        if (liveKeys.contains(c)) k = c
      }
      k
    }

  /** One CDC batch. Updated keys get 1..maxVersions after-images with
    * rising `trx_seq`; every other delete also carries an update with
    * the tombstone's own `trx_seq`, so the tombstone must win a tie. */
  def batch(t: LineitemTraffic): IndexedSeq[Array[Any]] = {
    val out = mutable.ArrayBuffer.empty[Array[Any]]
    (1 to t.newOrders).foreach(_ => addOrder(out, markInserted = true))
    val touched = mutable.HashSet.empty[Long]
    var u = 0
    while (u < t.updatedKeys && touched.size < liveKeys.size) {
      val k = pickKey(t)
      if (touched.add(k)) {
        (1 to 1 + rnd.nextInt(t.maxVersions)).foreach { _ =>
          val r = rows(k).clone()
          r(ix("l_quantity")) = 100L * (1 + rnd.nextInt(50))
          r(ix("l_linestatus")) = status(rnd.nextInt(2))
          r(ix("l_shipmode")) = shipmodes(rnd.nextInt(shipmodes.length))
          r(ix("l_comment")) = comment()
          val s = stamp(r, "U", nextSeq(), deleted = false)
          rows(k) = s
          out += s
        }
        u += 1
      }
    }
    var d = 0
    while (d < t.deletes && (if (t.deleteInsertedOnly) inserted.size else liveKeys.size) > 0) {
      val k = if (t.deleteInsertedOnly) inserted.random(rnd) else pickKey(t)
      val s = nextSeq()
      if (d % 2 == 0) out += stamp(rows(k), "U", s, deleted = false)
      out += stamp(rows(k), "D", s, deleted = true)
      rows.remove(k)
      liveKeys.remove(k)
      inserted.remove(k)
      d += 1
    }
    out.toIndexedSeq
  }

  /** A live key chosen at random (the reader's point lookups). */
  def randomLiveKey(r: java.util.Random): (Long, Int) = {
    val k = liveKeys.random(r)
    (k / 8, (k % 8).toInt)
  }
}

/** Static dimension tables for the mixed workload's joins. */
object DimGen {
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def orders(seed: Long, g: LineitemGen, nOrders: Int, nCust: Int): IndexedSeq[Array[Any]] = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val ix = Specs.orders.index
    (1 to nOrders).map { o =>
      val r = new Array[Any](Specs.orders.cols.size)
      r(ix("o_orderkey")) = o.toLong
      r(ix("o_custkey")) = 1L + rnd.nextInt(nCust)
      r(ix("o_orderstatus")) = "OFP".charAt(rnd.nextInt(3)).toString
      r(ix("o_totalprice")) = 100000L + rnd.nextInt(40000000)
      r(ix("o_orderdate")) = g.orderDate(o.toLong)
      r(ix("o_orderpriority")) = prios(rnd.nextInt(prios.length))
      r(ix("Op")) = "I"
      r(ix("trx_seq")) = Dms.seqStr(o.toLong)
      r(ix("_hoodie_is_deleted")) = false
      r(ix("dms_ts")) = Dms.EpochMicros
      r
    }
  }

  def customers(seed: Long, nCust: Int): IndexedSeq[Array[Any]] = {
    val rnd = new java.util.Random(seed ^ 0xc057L)
    val ix = Specs.customer.index
    (1 to nCust).map { c =>
      val r = new Array[Any](Specs.customer.cols.size)
      r(ix("c_custkey")) = c.toLong
      r(ix("c_name")) = f"Customer#$c%09d"
      r(ix("c_nationkey")) = rnd.nextInt(25)
      r(ix("c_mktsegment")) = segments(rnd.nextInt(segments.length))
      r(ix("c_acctbal")) = rnd.nextInt(1000000).toLong - 100000L
      r(ix("Op")) = "I"
      r(ix("trx_seq")) = Dms.seqStr(c.toLong)
      r(ix("_hoodie_is_deleted")) = false
      r(ix("dms_ts")) = Dms.EpochMicros
      r
    }
  }
}

/** Traffic shape of a CDC wave over the `documents` corpus. */
final case class CorpusTraffic(edits: Int, inserts: Int, nearDupShare: Double,
    deletes: Int, maxVersions: Int, filesPerBatch: Int)

/** Generator model of a text corpus: documents over a small vocabulary,
  * a share of them near-duplicates of an earlier document (a copy with a
  * few words changed), so the dedup state has clusters to maintain. */
final class CorpusGen(seed: Long) {
  private val rnd = new java.util.Random(seed)
  private var seq: Long = 1000000L
  private val rows = mutable.HashMap.empty[Long, Array[Any]]
  private val live = new KeySet
  private val ix = Specs.documents.index
  private var maxId = 0L
  private val langs = Array("en", "de", "fr", "es", "zh")

  private def nextSeq(): Long = { seq += 1; seq }

  private def mutate(text: String, changes: Int): String = {
    val w = text.split(' ')
    (1 to changes).foreach(_ => w(rnd.nextInt(w.length)) = Words.pick(rnd))
    w.mkString(" ")
  }

  private def image(id: Long, text: String, src: String, lang: String,
      op: String, s: Long, deleted: Boolean): Array[Any] = {
    val r = new Array[Any](Specs.documents.cols.size)
    r(ix("doc_id")) = id
    r(ix("text")) = text
    r(ix("lang")) = lang
    r(ix("source")) = src
    r(ix("n_chars")) = text.length.toLong
    r(ix("Op")) = op
    r(ix("trx_seq")) = Dms.seqStr(s)
    r(ix("_hoodie_is_deleted")) = deleted
    r(ix("dms_ts")) = Dms.EpochMicros + s * 1000L
    r
  }

  private def addDoc(out: mutable.ArrayBuffer[Array[Any]], nearDupShare: Double): Unit = {
    maxId += 1
    val text =
      if (live.size > 0 && rnd.nextDouble() < nearDupShare)
        mutate(rows(live.random(rnd))(ix("text")).asInstanceOf[String], 2)
      else Words.phrase(rnd, 20 + rnd.nextInt(60))
    val r = image(maxId, text, s"src${rnd.nextInt(8)}", langs(rnd.nextInt(langs.length)),
      "I", nextSeq(), deleted = false)
    rows(maxId) = r
    live.add(maxId)
    out += r
  }

  def fullLoad(n: Int): IndexedSeq[Array[Any]] = {
    val out = mutable.ArrayBuffer.empty[Array[Any]]
    (1 to n).foreach(_ => addDoc(out, 0.15))
    out.toIndexedSeq
  }

  def batch(t: CorpusTraffic): IndexedSeq[Array[Any]] = {
    val out = mutable.ArrayBuffer.empty[Array[Any]]
    (1 to t.inserts).foreach(_ => addDoc(out, t.nearDupShare))
    val touched = mutable.HashSet.empty[Long]
    while (touched.size < t.edits && touched.size < live.size) {
      val id = live.random(rnd)
      if (touched.add(id))
        (1 to 1 + rnd.nextInt(t.maxVersions)).foreach { _ =>
          val cur = rows(id)
          val r = image(id, mutate(cur(ix("text")).asInstanceOf[String], 3),
            cur(ix("source")).asInstanceOf[String], cur(ix("lang")).asInstanceOf[String],
            "U", nextSeq(), deleted = false)
          rows(id) = r
          out += r
        }
    }
    var d = 0
    while (d < t.deletes && live.size > 1) {
      val id = live.random(rnd)
      val cur = rows(id)
      val s = nextSeq()
      if (d % 2 == 0) out += image(id, cur(ix("text")).asInstanceOf[String],
        cur(ix("source")).asInstanceOf[String], cur(ix("lang")).asInstanceOf[String],
        "U", s, deleted = false)
      out += image(id, cur(ix("text")).asInstanceOf[String],
        cur(ix("source")).asInstanceOf[String], cur(ix("lang")).asInstanceOf[String],
        "D", s, deleted = true)
      rows.remove(id)
      live.remove(id)
      d += 1
    }
    out.toIndexedSeq
  }
}

/** A set of longs with O(1) add, remove and uniform random choice. */
final class KeySet {
  private val at = mutable.HashMap.empty[Long, Int]
  private val keys = mutable.ArrayBuffer.empty[Long]
  def size: Int = keys.size
  def contains(k: Long): Boolean = at.contains(k)
  def add(k: Long): Unit = if (!at.contains(k)) { at(k) = keys.size; keys += k }
  def remove(k: Long): Unit = at.remove(k).foreach { i =>
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; at(last) = i }
  }
  def random(r: java.util.Random): Long = keys(r.nextInt(keys.size))
}

object Words {
  private val vocab = ("spark table merge stream batch file key value order line " +
    "scan filter join group sort hash window index commit log delta base query " +
    "plan cost row column page block cache fast slow small big data lake zone " +
    "change event time watermark snapshot version clean archive compact view " +
    "state agg dedup text token vector model").split(' ')
  def pick(r: java.util.Random): String = vocab(r.nextInt(vocab.length))
  def phrase(r: java.util.Random, n: Int): String = Seq.fill(n)(pick(r)).mkString(" ")
}
