package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.IncrementalDedup
import graft.operators.{GraftTable, IncrementalAgg}
import graft.sources.CdcSource
import graft.sql.{GraftScanMetrics, GraftSql}
import graft.sync.CatalogSync

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path)

/** One SQL query the benchmark sent, with what it must be checked
  * against. The query saw the table after some number of CDC batches in
  * [`kLo`, `kHi`] (a concurrent reader cannot know which commit its scan
  * resolved, only the ones committed before it started and the ones
  * begun before it ended). */
final case class QueryRec(kind: String, t: Template, keyVals: Seq[Any], kLo: Int, kHi: Int,
    sum: Sum, error: Option[String])

/** An SQL query shape: the engine's text and the reference's text over
  * `ref_*` views. A `versioned` reference groups by `_k`, the number of
  * batches applied, so one evaluation checks every query of the shape. */
final case class Template(name: String, sql: String, refSql: String, versioned: Boolean)

/** One measured operation (a cycle or a query): its wall time, and the
  * CPU time of the client thread that ran it. */
final case class Op(kind: String, id: Long, wallS: Double, threadCpuNs: Long)

/** Everything one run measures. */
final class Run(val spark: SparkSession, val args: Args, val tracer: Tracer,
    val attribution: SparkAttribution) {
  val setups = mutable.ArrayBuffer.empty[Double]
  val fullLoadRates = mutable.ArrayBuffer.empty[Double]
  val ops = new ConcurrentLinkedQueue[Op]()
  private val opIds = new AtomicLong(0)
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  var changeRows = 0L
  var cdcBytes = 0L
  var bytesWritten = 0L
  var spaceAmp = Double.NaN
  var timedSeconds = 0.0
  var warmUpSeconds = 0.0
  val attempted = new AtomicInteger(0)
  val failed = new AtomicInteger(0)
  val failures = new ConcurrentLinkedQueue[String]()
  val details = mutable.LinkedHashMap.empty[String, Any]

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, (Double, Long)]()

  /** Add one observation to a per-layer counter (reported as the mean). */
  def count(name: String, v: Double): Unit =
    if (!v.isNaN) counters.merge(name, (v, 1L), (a, b) => (a._1 + b._1, a._2 + b._2))
  def counterMean(name: String): Double =
    Option(counters.get(name)).map(c => c._1 / c._2).getOrElse(0.0)
  def counterSum(name: String): Double =
    Option(counters.get(name)).map(_._1).getOrElse(0.0)

  def fail(what: String, e: Throwable): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20)
      failures.add(s"$what: ${Option(e).map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").getOrElse("wrong result")}"
        .take(400))
  }

  /** Run `f` as one measured operation of `kind`. Its CPU time is this
    * thread's plus that of every Spark task its jobs ran; the tasks' part
    * is known once the listener bus has drained ([[cpus]]). */
  def measure[A](kind: String)(f: => A): A = {
    val id = opIds.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, id.toString)
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try f
    finally {
      ops.add(Op(kind, id, (System.nanoTime() - t0) / 1e9, threads.getCurrentThreadCpuTime - c0))
      sc.setLocalProperty(Tracer.OpKey, null)
    }
  }

  def walls(kind: String): Seq[Double] = ops.asScala.filter(_.kind == kind).map(_.wallS).toSeq
  def cpus(kind: String): Seq[Double] = ops.asScala.filter(_.kind == kind)
    .map(o => (o.threadCpuNs + attribution.opCpuNs.getOrDefault(o.id, 0L)) / 1e9).toSeq

  /** Run a SQL query the way a client does: parse and plan
    * (`executedPlan` forced), then execute and collect. */
  def sql(text: String, kind: String, trace: String): Array[Row] = {
    val rows = measure(kind)(tracer.span(s"query.$kind", trace) {
      val df = tracer.span("sql.plan") {
        val d = spark.sql(text)
        d.queryExecution.executedPlan
        d
      }
      tracer.span("sql.exec")(df.collect())
    })
    count(s"sql.$kind.rows_returned", rows.length)
    rows
  }

  /** Send one query, record it for checking; failures count. */
  def query(kind: String, t: Template, keyVals: Seq[Any], kLo: => Int, kHi: => Int,
      trace: String, scanTable: String = "graft.lineitem"): Unit = {
    attempted.incrementAndGet()
    val lo = kLo
    GraftScanMetrics.clear()
    try {
      val rows = sql(t.sql, kind, trace)
      GraftScanMetrics.lastScan(scanTable).foreach { case (a, n) =>
        if (n > 0) count("sql.files_admitted_share", a.toDouble / n)
      }
      queries.add(QueryRec(kind, t, keyVals, lo, kHi, Sum.of(rows), None))
    } catch {
      case NonFatal(e) =>
        fail(s"$kind ${t.name}", e)
        queries.add(QueryRec(kind, t, keyVals, lo, kHi, Sum.empty, Some(e.toString)))
    }
  }

  /** Cold metadata open a reader performs before its query: the table
    * descriptor, then the latest commit (its outstanding log count is
    * the MOR read depth the query will pay). */
  def coldOpen(root: String, trace: String): Unit = {
    val c = tracer.span("model.latest_commit_cold", trace) {
      GraftTable.open(spark, root).latestCommit()
    }
    c.foreach(x => count("model.log_files_live", x.logFiles.size))
  }
}

object Disk {
  /** Regular files under `root` with their sizes. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .flatMap(p => scala.util.Try(p.toString -> Files.size(p)).toOption).toMap
      finally s.close()
    }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}

/** Bytes the engine writes under its table roots, from directory walks
  * between cycles: a new file counts whole, a grown file its growth. */
final class WriteMeter(curated: Path) {
  private var last: Map[String, Long] = Disk.files(curated)

  /** (all bytes written, bytes written to table metadata) since the
    * previous call. */
  def step(): (Long, Long) = {
    val cur = Disk.files(curated)
    var all = 0L
    var meta = 0L
    cur.foreach { case (p, n) =>
      val w = last.get(p) match {
        case None => n
        case Some(m) => math.max(0L, n - m)
      }
      all += w
      if (p.contains("/_graft/") && !p.endsWith(".lock")) meta += w
    }
    last = cur
    (all, meta)
  }

  /** Bytes on disk under the roots ÷ bytes of the live snapshots' data
    * and log files, over every graft table found under the roots. */
  def spaceAmp(spark: SparkSession): Double = {
    val files = Disk.files(curated)
    val onDisk = files.values.sum
    val roots = files.keys.filter(_.endsWith("/_graft/table.json"))
      .map(_.stripSuffix("/_graft/table.json")).toSeq
    val live = roots.flatMap(r => GraftTable.open(spark, r).latestCommit())
      .map(c => (c.files ++ c.logFiles).map(_.bytes).sum).sum
    onDisk.toDouble / math.max(1L, live)
  }
}

/** A workload: its set-up — input generation and full load, repeated,
  * the last repetition kept; then an untimed warm-up — its timed phase
  * and its checks. */
trait Workload {
  def name: String
  /** Generate the inputs under `dir` and full-load the tables. */
  def prepare(run: Run, dir: Path): Unit
  /** Untimed cycles (and queries) on the kept tables. */
  def warmUp(run: Run): Unit
  def timed(run: Run, deadlineNs: Long): Unit
  def verify(run: Run): Unit
}

/** Shared writer cycle over a table fed by a raw zone: what
  * `IngestJob.run` calls for a delta run, in the same order
  * (incremental read → upsert → clean → archive → catalog sync), plus
  * `after` (dependent views). */
abstract class IngestWorkload extends Workload {
  protected var run: Run = _
  protected var zone: RawZone = _
  protected var table: GraftTable = _
  protected var curated: Path = _
  protected var meter: WriteMeter = _
  protected val landRnd = new java.util.Random(0)
  /** Batches committed and synced; batches whose commit may be visible. */
  protected val applied = new AtomicInteger(0)
  protected val pending = new AtomicInteger(0)
  protected var batchNo = 0
  protected var timedCycles = 0
  protected val shares = mutable.Map.empty[String, (Double, Long)]

  protected def tableName: String
  protected def nextBatch(): IndexedSeq[Array[Any]]
  protected def filesPerBatch: Int
  protected def after(trace: String): Unit = ()
  /** Queries a client runs after its own commit, to see it. */
  protected def probe(b: Int): Unit = ()

  protected def share(name: String, v: Double): Unit = {
    val (s, n) = shares.getOrElse(name, (0.0, 0L))
    shares(name) = (s + v, n + 1)
  }

  /** Full load: list the zone once, read it through the source's
    * timestamp normalization, bulk insert with the zone's watermark —
    * the `bulk_insert` pipeline's calls. */
  protected def fullLoad(r: Run, t: GraftTable, z: RawZone, syncName: String): Unit = {
    val t0 = System.nanoTime()
    val files = CdcSource.listDataFiles(r.spark, z.root.toString)
    val df = graft.util.TsNorm.normalize(r.spark.read.parquet(files.map(_._2): _*))
    t.bulkInsert(df, Some(CdcSource.advanceWatermark(None, files)))
    CatalogSync.sync(r.spark, "bench", syncName, t)
    val rows = z.landed.filter(_.batch == 0).map(_.rows).sum
    r.fullLoadRates += rows / ((System.nanoTime() - t0) / 1e9)
  }

  protected def cycle(timed: Boolean): Unit = {
    batchNo += 1
    val b = batchNo
    val rows = nextBatch()
    val landed = zone.landBatch(b, rows, filesPerBatch, landRnd)
    val trace = s"c$b"
    val prev = table.latestCommit().get
    pending.set(b)
    val commit = run.measure("cycle")(run.tracer.span("writer.cycle", trace) {
      val (df, wm) = run.tracer.span("sources.read_incremental") {
        CdcSource.readIncremental(run.spark, zone.root.toString, table.latestCheckpoint())
          .getOrElse(throw new IllegalStateException(s"batch $b not found by the incremental read"))
      }
      val c = run.tracer.span("operators.upsert") {
        val c = table.upsert(df, Some(wm))
        if (table.tableType == GraftTable.MergeOnRead)
          run.tracer.relabel(if (c.action == "compact") "operators.compact" else "operators.delta_commit")
        c
      }
      run.tracer.span("operators.clean")(table.clean())
      run.tracer.span("operators.archive")(table.archive())
      run.tracer.span("sync.sync")(CatalogSync.sync(run.spark, "bench", tableName, table))
      after(trace)
      c
    })
    applied.set(b)
    if (timed) {
      run.changeRows += rows.size
      run.cdcBytes += landed.map(_.bytes).sum
      timedCycles += 1
      val (w, meta) = meter.step()
      run.bytesWritten += w
      val commits = table.history(prev.seq, commit.seq)
      run.count("model.manifest_bytes_per_commit", meta.toDouble / math.max(1, commits.size))
      run.count("sources.read_incremental.files_listed", zone.landed.size)
      run.count("sources.read_incremental.fresh_file_share", landed.size.toDouble / zone.landed.size)
      val upsertName = if (table.tableType == GraftTable.MergeOnRead) {
        if (commit.action == "compact") "operators.compact" else "operators.delta_commit"
      } else "operators.upsert"
      val kept = commit.files.map(_.path).toSet
      val rewritten = prev.files.count(f => !kept(f.path))
      run.count(s"$upsertName.files_admitted_share", rewritten.toDouble / math.max(1, prev.files.size))
      val written = commits.map(_.extra.get("rows_written").map(_.toDouble).getOrElse(0.0)).sum
      run.count(s"$upsertName.change_rows", rows.size)
      run.count(s"$upsertName.rows_written", written)
    } else meter.step()
    probe(b)
  }

  /** The writer stops at the first cycle boundary past the deadline with
    * no delta logs outstanding, so every run of a merge-on-read table
    * holds whole compaction periods (its ingest rate and amplification
    * would otherwise depend on where the deadline fell in a period). */
  def timed(r: Run, deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs || table.latestCommit().exists(_.logFiles.nonEmpty)) {
      r.attempted.incrementAndGet()
      try cycle(timed = true)
      catch { case NonFatal(e) => r.fail(s"cycle ${batchNo}", e); return }
    }
  }

  protected def warm(r: Run, n: Int): Unit = (1 to n).foreach(_ => cycle(timed = false))

  /** Final snapshot against the reference, then every recorded query. */
  def verify(r: Run): Unit = {
    r.details("traffic") = shares.map { case (k, (s, n)) => k -> s / math.max(1L, n) }.toMap
    r.details("cycles_timed") = timedCycles
    r.details("base_rows") = zone.landed.filter(_.batch == 0).map(_.rows).sum
    r.details("change_rows_per_cycle") = r.changeRows.toDouble / math.max(1, timedCycles)
    r.details("cdc_bytes_per_cycle") = r.cdcBytes.toDouble / math.max(1, timedCycles)
    r.details("batches_total") = batchNo
    r.details("live_files") = table.latestCommit().map(_.files.size).getOrElse(0)
    r.details("raw_files") = zone.landed.size
    r.spaceAmp = meter.spaceAmp(r.spark)
    val ref = new Reference(r.spark, zone)
    check(r, "final snapshot")(ref.matches(table.readUser()))
    verifyQueries(r, ref)
  }

  protected def check(r: Run, what: String)(ok: => Boolean): Unit = {
    r.attempted.incrementAndGet()
    try if (!ok) r.fail(what, null)
    catch { case NonFatal(e) => r.fail(what, e) }
  }

  /** Reference views each query shape's `refSql` reads. */
  protected def refViews(r: Run, ref: Reference, ks: Seq[Int]): Unit

  protected def verifyQueries(r: Run, ref: Reference): Unit = {
    val recs = r.queries.asScala.toSeq.filter(_.error.isEmpty)
    val spark = r.spark
    // point lookups: one join of every (query, candidate k) against the
    // versioned reference
    val pts = recs.filter(_.kind == "point").zipWithIndex
    if (pts.nonEmpty) {
      val keyCols = zone.spec.keys
      val keyTypes = keyCols.map(k => zone.spec.cols.find(_._1 == k).get._2 match {
        case KInt => IntegerType
        case _ => LongType
      })
      val probeSchema = StructType(Seq(StructField("_qid", IntegerType), StructField("_k", IntegerType)) ++
        keyCols.zip(keyTypes).map { case (c, t) => StructField(c, t) })
      val probeRows = pts.flatMap { case (q, i) =>
        (q.kLo to q.kHi).map(k => Row.fromSeq(Seq(i, k) ++ q.keyVals))
      }
      val probeDf = spark.createDataFrame(probeRows.asJava, probeSchema)
      val cond = keyCols.map(c => ref.versions(c) === probeDf(c)).reduce(_ && _) &&
        ref.versions("_from") <= probeDf("_k") && probeDf("_k") < ref.versions("_to")
      val hits = ref.versions.filter(!col("_hoodie_is_deleted"))
        .join(broadcast(probeDf), cond)
        .select((Seq(probeDf("_qid"), probeDf("_k")) ++ zone.spec.names.map(ref.versions(_))): _*)
        .collect()
      val got = hits.groupBy(h => (h.getInt(0), h.getInt(1)))
        .map { case (k, rs) => k -> Sum.of(rs.map(x => Row.fromSeq(x.toSeq.drop(2)))) }
      pts.foreach { case (q, i) =>
        if (!(q.kLo to q.kHi).exists(k => got.getOrElse((i, k), Sum.empty) == q.sum))
          r.fail(s"point ${q.t.sql} (batches ${q.kLo}..${q.kHi})", null)
      }
    }
    // analytic queries: each shape's reference once, over every k seen
    val ana = recs.filter(_.kind == "analytic")
    if (ana.nonEmpty) {
      refViews(r, ref, ana.flatMap(q => q.kLo to q.kHi).distinct)
      val expected = mutable.Map.empty[String, Map[Int, Sum]]
      ana.foreach { q =>
        val byK = expected.getOrElseUpdate(q.t.refSql, {
          val rows = spark.sql(q.t.refSql).collect()
          if (q.t.versioned) rows.groupBy(_.getInt(0))
            .map { case (k, rs) => k -> Sum.of(rs.map(x => Row.fromSeq(x.toSeq.drop(1)))) }
          else Map(-1 -> Sum.of(rows))
        })
        val ok = if (!q.t.versioned) byK(-1) == q.sum
          else (q.kLo to q.kHi).exists(k => byK.getOrElse(k, Sum.empty) == q.sum)
        if (!ok) r.fail(s"analytic ${q.t.name} (batches ${q.kLo}..${q.kHi})", null)
      }
    }
  }
}

/** Shape of a `lineitem` ingest workload. */
final case class LineitemShape(tableType: String, baseOrders: Int, targetFileBytes: Long,
    traffic: LineitemTraffic, warmCycles: Int, reader: Boolean)

/** `lineitem` fed by a DMS stream. Without a reader, each cycle ends with
  * the writer's own probes (point lookups of keys the batch changed and
  * an aggregate); with one, a second client sends point lookups and
  * analytic queries back to back while the writer runs. */
final class LineitemWorkload(val name: String, shape: LineitemShape) extends IngestWorkload {
  private var gen: LineitemGen = _
  private var lastBatch: IndexedSeq[Array[Any]] = IndexedSeq.empty
  private var dims: Seq[(RawZone, GraftTable)] = Seq.empty
  private val ix = Specs.lineitem.index
  private val cols = Specs.lineitem.names.mkString(", ")
  protected def tableName = "lineitem"
  protected def filesPerBatch: Int = shape.traffic.filesPerBatch
  /** Orders the probe aggregate reads: the recent ones the traffic
    * targets, or the whole table when updates are uniform. */
  private def probeFloor: Long =
    if (shape.traffic.recentOrders > 0) gen.baseMaxOrder - shape.traffic.recentOrders else 0L

  protected def nextBatch(): IndexedSeq[Array[Any]] = {
    val rows = gen.synchronized(gen.batch(shape.traffic))
    val keys = rows.map(r => (r(ix("l_orderkey")).asInstanceOf[Long], r(ix("l_linenumber")).asInstanceOf[Int]))
    val distinct = keys.distinct.size
    val top = gen.maxOrder - gen.maxOrder / 10
    share("versions_per_key", rows.size.toDouble / distinct)
    share("delete_share", rows.count(_(ix("_hoodie_is_deleted")) == true).toDouble / rows.size)
    share("insert_share", rows.count(_(ix("Op")) == "I").toDouble / rows.size)
    val changed = rows.filter(_(ix("Op")) != "I")
    share("recent_key_share", changed.count(_(ix("l_orderkey")).asInstanceOf[Long] > top).toDouble /
      math.max(1, changed.size))
    share("base_key_share", changed.count(_(ix("l_orderkey")).asInstanceOf[Long] <= gen.baseMaxOrder)
      .toDouble / math.max(1, changed.size))
    lastBatch = rows
    rows
  }

  private def pointSql(o: Long, l: Int): Template = Template("point",
    s"SELECT $cols FROM graft.lineitem WHERE l_orderkey = $o AND l_linenumber = $l", "", versioned = true)

  /** The writer reads its own commit back: lookups of an inserted, an
    * updated and a deleted key of the batch, and an aggregate. */
  override protected def probe(b: Int): Unit = if (!shape.reader) {
    val r = new java.util.Random(run.args.seed * 31 + b)
    val byOp = lastBatch.groupBy(_(ix("Op")).asInstanceOf[String])
    val picks = Seq("I", "U", "D").flatMap(op => byOp.get(op).map(rs => rs(r.nextInt(rs.size))))
    val trace = s"p$b"
    run.coldOpen(table.root, trace)
    picks.map(x => (x(ix("l_orderkey")).asInstanceOf[Long], x(ix("l_linenumber")).asInstanceOf[Int]))
      .distinct.foreach { case (o, l) =>
        run.query("point", pointSql(o, l), Seq[Any](o, l), b, b, trace)
      }
    run.query("analytic", probeAgg, Nil, b, b, trace)
  }

  private def probeAgg = Template("probe_agg",
    s"SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p " +
      s"FROM graft.lineitem WHERE l_orderkey > $probeFloor",
    "SELECT _k, count(*) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p " +
      "FROM ref_lineitem_k GROUP BY _k", versioned = true)

  /** The mixed reader's analytic shapes. They read only full-load orders
    * and columns the stream never updates, so their answer is the same at
    * every commit and one reference checks them all. */
  private def readerTemplates(latestSeq: Long): Seq[Template] = {
    val b = gen.baseMaxOrder
    def t(name: String, body: String => String, travel: Boolean = false): Template = {
      val li = if (travel) s"graft.lineitem VERSION AS OF $latestSeq" else "graft.lineitem"
      Template(name,
        body(li).replace("{o}", "graft.orders").replace("{c}", "graft.customer"),
        body("ref_lineitem").replace("{o}", "ref_orders").replace("{c}", "ref_customer"),
        versioned = false)
    }
    val r = new java.util.Random(run.args.seed * 131 + latestSeq)
    val lo = 1 + r.nextInt(math.max(1, (b - 400).toInt))
    val d0 = gen.orderDate(b / 4 + r.nextInt(math.max(1, (b / 2).toInt)))
    Seq(
      t("key_range", li => s"SELECT count(*) AS n, sum(l_extendedprice) AS p FROM $li " +
        s"WHERE l_orderkey BETWEEN $lo AND ${lo + 300}"),
      t("ship_range", li => s"SELECT count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS rev " +
        s"FROM $li WHERE l_shipdate BETWEEN date_add(DATE'1970-01-01', $d0) " +
        s"AND date_add(DATE'1970-01-01', ${d0 + 30}) AND l_orderkey <= $b"),
      t("flags", li => s"SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS p, " +
        s"avg(l_discount) AS d FROM $li WHERE l_orderkey <= $b GROUP BY l_returnflag"),
      t("join3", li => s"SELECT c_mktsegment, count(*) AS n, sum(l_extendedprice) AS p FROM $li " +
        "JOIN {o} ON l_orderkey = o_orderkey JOIN {c} ON o_custkey = c_custkey " +
        s"WHERE l_orderkey <= $b GROUP BY c_mktsegment"),
      t("topk", li => "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (" +
        "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, row_number() OVER (" +
        "PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn " +
        s"FROM $li WHERE l_orderkey <= $b) t WHERE rn <= 5"),
      t("time_travel", li => s"SELECT count(*) AS n, sum(l_extendedprice) AS p FROM $li " +
        s"WHERE l_orderkey <= $b", travel = true))
  }

  /** One closed-loop reader client: 3 of 5 queries are key lookups. */
  private def reader(deadlineNs: Long, warm: Int): Unit = {
    val rnd = new java.util.Random(run.args.seed * 7 + 1)
    var i = 0
    while ((warm > 0 && i < warm) || (warm == 0 && System.nanoTime() < deadlineNs)) {
      i += 1
      val trace = s"q$i"
      run.coldOpen(table.root, trace)
      if (rnd.nextInt(5) < 3) {
        val (o, l) = gen.synchronized(gen.randomLiveKey(rnd))
        run.query("point", pointSql(o, l), Seq[Any](o, l), applied.get, pending.get, trace)
      } else {
        val seq = table.latestCommit().map(_.seq).getOrElse(0L)
        val ts = readerTemplates(math.max(0L, seq - 2))
        run.query("analytic", ts(i % ts.size), Nil, applied.get, pending.get, trace)
      }
    }
  }

  def prepare(r: Run, dir: Path): Unit = {
    run = r
    gen = new LineitemGen(r.args.seed, shape.baseOrders)
    curated = dir.resolve("curated")
    zone = new RawZone(dir.resolve("raw/lineitem"), Specs.lineitem)
    zone.landFull(gen.fullLoad(), 4)
    landRnd.setSeed(r.args.seed + 17)
    table = new GraftTable(r.spark, curated.resolve("lineitem").toString,
      Specs.lineitem.keys, targetFileBytes = shape.targetFileBytes, tableType = shape.tableType,
      compactEvery = if (shape.tableType == GraftTable.MergeOnRead) 3 else 0)
    fullLoad(r, table, zone, "lineitem")
    GraftSql.register(r.spark, "lineitem", table)
    if (shape.reader) {
      val nCust = math.max(100, shape.baseOrders / 10)
      dims = Seq(
        (Specs.orders, DimGen.orders(r.args.seed, gen, shape.baseOrders, nCust)),
        (Specs.customer, DimGen.customers(r.args.seed, nCust))).map { case (spec, rows) =>
          val z = new RawZone(dir.resolve(s"raw/${spec.name}"), spec)
          z.landFull(rows, 1)
          val t = new GraftTable(r.spark, curated.resolve(spec.name).toString, spec.keys,
            targetFileBytes = shape.targetFileBytes)
          val files = CdcSource.listDataFiles(r.spark, z.root.toString)
          t.bulkInsert(graft.util.TsNorm.normalize(r.spark.read.parquet(files.map(_._2): _*)),
            Some(CdcSource.advanceWatermark(None, files)))
          GraftSql.register(r.spark, spec.name, t)
          (z, t)
        }
    }
    batchNo = 0
  }

  def warmUp(r: Run): Unit = {
    meter = new WriteMeter(curated)
    warm(r, shape.warmCycles)
    if (shape.reader) reader(0L, warm = 6)
  }

  override def timed(r: Run, deadlineNs: Long): Unit =
    if (!shape.reader) super.timed(r, deadlineNs)
    else {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() => try reader(deadlineNs, 0) catch { case NonFatal(e) => err.set(e) },
        "bench-reader")
      th.start()
      try super.timed(r, deadlineNs) finally th.join()
      Option(err.get).foreach(e => r.fail("reader", e))
    }

  protected def refViews(r: Run, ref: Reference, ks: Seq[Int]): Unit =
    if (shape.reader) {
      ref.snapshot.createOrReplaceTempView("ref_lineitem")
      dims.foreach { case (z, _) =>
        new Reference(r.spark, z).snapshot.createOrReplaceTempView(s"ref_${z.spec.name}")
      }
    } else ref.snapshotsAt(ks, col("l_orderkey") > probeFloor).createOrReplaceTempView("ref_lineitem_k")
}

/** Shape of the corpus workload. */
final case class CorpusShape(baseDocs: Int, targetFileBytes: Long, traffic: CorpusTraffic,
    warmCycles: Int)

/** CDC waves of text edits, inserts and deletes into a document corpus
  * that feeds an incremental near-duplicate state and an incremental
  * aggregate view; a wave is fresh once both are refreshed. */
final class CorpusWorkload(val name: String, shape: CorpusShape) extends IngestWorkload {
  private var gen: CorpusGen = _
  private var state: GraftTable = _
  private var agg: GraftTable = _
  private var lastBatch: IndexedSeq[Array[Any]] = IndexedSeq.empty
  private val ix = Specs.documents.index
  private val cols = Specs.documents.names.mkString(", ")
  protected def tableName = "documents"
  protected def filesPerBatch: Int = shape.traffic.filesPerBatch

  protected def nextBatch(): IndexedSeq[Array[Any]] = {
    val rows = gen.batch(shape.traffic)
    val ids = rows.map(_(ix("doc_id")))
    share("versions_per_key", rows.size.toDouble / ids.distinct.size)
    share("delete_share", rows.count(_(ix("_hoodie_is_deleted")) == true).toDouble / rows.size)
    share("insert_share", rows.count(_(ix("Op")) == "I").toDouble / rows.size)
    lastBatch = rows
    rows
  }

  override protected def after(trace: String): Unit = {
    run.tracer.span("llm.dedup_refresh")(IncrementalDedup.refresh(run.spark, state))
    run.tracer.span("operators.agg_refresh")(IncrementalAgg.refresh(run.spark, agg))
  }

  private val aggTemplate = Template("agg_view", "SELECT source, n, chars FROM graft.doc_agg",
    "SELECT _k, source, count(*) AS n, sum(n_chars) AS chars FROM ref_documents_k GROUP BY _k, source",
    versioned = true)

  override protected def probe(b: Int): Unit = {
    val r = new java.util.Random(run.args.seed * 31 + b)
    val byOp = lastBatch.groupBy(_(ix("Op")).asInstanceOf[String])
    val ids = Seq("I", "U", "D").flatMap(op => byOp.get(op).map(rs => rs(r.nextInt(rs.size))))
      .map(_(ix("doc_id")).asInstanceOf[Long]).distinct
    val trace = s"p$b"
    run.coldOpen(table.root, trace)
    ids.foreach { id =>
      run.query("point", Template("point", s"SELECT $cols FROM graft.documents WHERE doc_id = $id",
        "", versioned = true), Seq(id), b, b, trace, "graft.documents")
    }
    run.query("analytic", aggTemplate, Nil, b, b, trace, "graft.doc_agg")
  }

  def prepare(r: Run, dir: Path): Unit = {
    run = r
    gen = new CorpusGen(r.args.seed)
    curated = dir.resolve("curated")
    zone = new RawZone(dir.resolve("raw/documents"), Specs.documents)
    zone.landFull(gen.fullLoad(shape.baseDocs), 2)
    landRnd.setSeed(r.args.seed + 17)
    table = new GraftTable(r.spark, curated.resolve("documents").toString,
      Specs.documents.keys, targetFileBytes = shape.targetFileBytes)
    fullLoad(r, table, zone, "documents")
    GraftSql.register(r.spark, "documents", table)
    batchNo = 0
  }

  def warmUp(r: Run): Unit = {
    state = IncrementalDedup.create(r.spark, table, curated.resolve("doc_dedup").toString,
      "doc_id", "text")
    agg = IncrementalAgg.create(r.spark, table, curated.resolve("doc_agg").toString,
      Seq("source"), Seq("chars" -> "n_chars"))
    GraftSql.register(r.spark, "doc_agg", agg)
    meter = new WriteMeter(curated)
    warm(r, shape.warmCycles)
  }

  override def verify(r: Run): Unit = {
    super.verify(r)
    val ref = new Reference(r.spark, zone)
    check(r, "dedup state covers exactly the live documents") {
      Sum.ofFrame(state.readUser().select(col("id")), Seq("id")) ==
        Sum.ofFrame(ref.snapshot.select(col("doc_id").as("id")), Seq("id"))
    }
  }

  protected def refViews(r: Run, ref: Reference, ks: Seq[Int]): Unit =
    ref.snapshotsAt(ks).createOrReplaceTempView("ref_documents_k")
}

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "cow_recent_upsert" -> (() => new LineitemWorkload("cow_recent_upsert", LineitemShape(
      GraftTable.CopyOnWrite, baseOrders = 6000, targetFileBytes = 40L * 1024,
      LineitemTraffic(newOrders = 60, updatedKeys = 300, maxVersions = 3, deletes = 20,
        recentOrders = 600, deleteInsertedOnly = false, filesPerBatch = 3),
      warmCycles = 2, reader = false))),
    // three warm cycles end on an inline compaction (every third delta
    // commit), so the timed phase starts a compaction period
    "mor_uniform_upsert" -> (() => new LineitemWorkload("mor_uniform_upsert", LineitemShape(
      GraftTable.MergeOnRead, baseOrders = 6000, targetFileBytes = 40L * 1024,
      LineitemTraffic(newOrders = 20, updatedKeys = 300, maxVersions = 3, deletes = 20,
        recentOrders = 0, deleteInsertedOnly = false, filesPerBatch = 3),
      warmCycles = 3, reader = false))),
    "mor_uniform_mixed" -> (() => new LineitemWorkload("mor_uniform_mixed", LineitemShape(
      GraftTable.MergeOnRead, baseOrders = 6000, targetFileBytes = 40L * 1024,
      LineitemTraffic(newOrders = 20, updatedKeys = 300, maxVersions = 3, deletes = 10,
        recentOrders = 0, deleteInsertedOnly = true, filesPerBatch = 3),
      warmCycles = 2, reader = true))),
    "corpus_views" -> (() => new CorpusWorkload("corpus_views", CorpusShape(
      baseDocs = 1500, targetFileBytes = 64L * 1024,
      CorpusTraffic(edits = 40, inserts = 20, nearDupShare = 0.3, deletes = 8,
        maxVersions = 2, filesPerBatch = 2),
      warmCycles = 2))))
}
