package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its record:
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --out <record.json>
  * }}}
  *
  * Set-up — input generation and full load — runs three times, each in a
  * fresh directory; the last one is kept, warmed up by untimed cycles and
  * timed. `setup_s` is the session start, the median set-up and the
  * warm-up. The record holds the
  * end-to-end metrics (untraced run) or the per-layer metrics (traced
  * run), the correctness verdict and the run's details.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      Paths.get(a("work")), Paths.get(a("out")))
    val make = Workloads.all.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val attribution = new SparkAttribution(args.trace)
    spark.sparkContext.addSparkListener(attribution)
    val tracer = new Tracer(args.trace, spark.sparkContext)
    val run = new Run(spark, args, tracer, attribution)
    try {
      val wl = make()
      (1 to SetupReps).foreach { rep =>
        if (rep > 1) Disk.delete(args.work.resolve(s"rep${rep - 1}"))
        val t0 = System.nanoTime()
        wl.prepare(run, args.work.resolve(s"rep$rep"))
        run.setups += (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warmUp(run)
      run.warmUpSeconds = (System.nanoTime() - w0) / 1e9
      run.queries.clear(); run.ops.clear()
      run.attempted.set(0); run.failed.set(0); run.failures.clear()
      tracer.spans.clear()
      attribution.bySpan.clear(); attribution.opCpuNs.clear()
      val t0 = System.nanoTime()
      wl.timed(run, t0 + args.seconds * 1000000000L)
      run.timedSeconds = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val layers = if (args.trace) Layers.metrics(run) else Map.empty[String, (Double, String)]
      val v0 = System.nanoTime()
      wl.verify(run)
      run.details("verify_s") = (System.nanoTime() - v0) / 1e9
      val rss = peakRssMb()
      val metrics =
        if (args.trace) layers + ("jvm.peak_rss_mb" -> (rss, "MB")) else endToEnd(run, sessionS)
      run.details("session_start_s") = sessionS
      run.details("setup_reps_s") = run.setups.toSeq
      run.details("warm_up_s") = run.warmUpSeconds
      run.details("timed_s") = run.timedSeconds
      run.details("peak_rss_mb") = rss
      run.details("timings") = Seq("cycle", "point", "analytic").map { k =>
        val d = Dist(run.walls(k))
        val c = Dist(run.cpus(k))
        k -> Map("n" -> d.n, "p50_s" -> d.p50, "tail_q" -> d.tailQ, "tail_s" -> d.tail,
          "cpu_p50_s" -> c.p50, "cpu_tail_s" -> c.tail)
      }.toMap
      run.details("failures") = run.failures.asScala.toSeq
      if (args.trace) writeSpans(run, args.out.resolveSibling(
        args.out.getFileName.toString.stripSuffix(".json") + "-spans.json"))
      val record = mutable.LinkedHashMap[String, Any](
        "correct" -> (run.failed.get == 0),
        "attempted" -> math.max(1, run.attempted.get),
        "failed" -> run.failed.get,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "details" -> run.details)
      Files.write(args.out, Json.render(record).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def median(xs: Seq[Double]): Double = Dist(xs).p50

  def endToEnd(run: Run, sessionS: Double): Map[String, (Double, String)] = {
    val cyc = Dist(run.walls("cycle"))
    val pts = Dist(run.walls("point"))
    val ana = Dist(run.walls("analytic"))
    mutable.LinkedHashMap(
      "setup_s" -> (sessionS + median(run.setups.toSeq) + run.warmUpSeconds, "s"),
      "full_load_rows_per_s" -> (median(run.fullLoadRates.toSeq), "rows/s"),
      "ingest_rows_per_s" -> (run.changeRows / math.max(1e-9, cyc.sum), "rows/s"),
      "cycle_p50_s" -> (cyc.p50, "s"),
      "point_p50_s" -> (pts.p50, "s"),
      "analytic_p50_s" -> (ana.p50, "s"),
      "write_amp" -> (run.bytesWritten.toDouble / math.max(1L, run.cdcBytes), "ratio"),
      "space_amp" -> (run.spaceAmp, "ratio"),
      "cycle_cpu_s" -> (Dist(run.cpus("cycle")).p50, "s"),
      "point_cpu_s" -> (Dist(run.cpus("point")).p50, "s"),
      "analytic_cpu_s" -> (Dist(run.cpus("analytic")).p50, "s")).toMap
  }

  private def writeSpans(run: Run, path: Path): Unit = {
    val spans = run.tracer.closed.sortBy(_.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      val c = Option(run.attribution.bySpan.get(s.id))
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "trace" -> s.trace, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "jobs" -> c.map(_.jobs).getOrElse(0L), "tasks" -> c.map(_.tasks).getOrElse(0L),
        "shuffle_bytes" -> c.map(_.shuffleBytes).getOrElse(0L),
        "gc_ms" -> c.map(_.gcMs).getOrElse(0L), "task_wait_ms" -> c.map(_.waitMs).getOrElse(0L))
    }
    Files.write(path, Json.render(rows).getBytes("UTF-8"))
  }
}

/** Per-layer metrics of a traced run, from its spans and Spark charges. */
object Layers {
  def metrics(run: Run): Map[String, (Double, String)] = {
    val spans = run.tracer.closed
    val kids = spans.groupBy(_.parent)
    def dur(s: Span): Long = s.endNs - s.startNs
    /** Span time not covered by its child spans. */
    def selfNs(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      dur(s) - covered
    }
    val charge = run.attribution.bySpan
    def own(s: Span): SparkCharge = Option(charge.get(s.id)).getOrElse(new SparkCharge)
    /** A span's charges plus its descendants'. */
    def incl(s: Span): Seq[SparkCharge] = own(s) +: kids.getOrElse(s.id, Nil).flatMap(incl)
    val byName = spans.groupBy(_.name)
    def per(name: String)(f: Span => Double): Double =
      byName.get(name).filter(_.nonEmpty).map(ss => ss.map(f).sum / ss.size).getOrElse(0.0)
    def busy(name: String): Double = per(name)(s => selfNs(s) / 1e9)
    def jobs(name: String): Double = per(name)(s => incl(s).map(_.jobs).sum.toDouble)
    def tasks(name: String): Double = per(name)(s => incl(s).map(_.tasks).sum.toDouble)
    def shuffle(name: String): Double = per(name)(s => incl(s).map(_.shuffleBytes).sum.toDouble)

    val cycles = run.walls("cycle")
    val third = cycles.size / 3
    val drift =
      if (third == 0) 1.0
      else Dist(cycles.takeRight(third)).p50 / Dist(cycles.take(third)).p50
    val upsertNames = Seq("operators.upsert", "operators.delta_commit", "operators.compact")
    val changeRows = upsertNames.map(n => run.counterSum(s"$n.change_rows")).sum
    val written = upsertNames.map(n => run.counterSum(s"$n.rows_written")).sum
    val returned = run.counterSum("sql.analytic.rows_returned")
    val scanned = byName.getOrElse("query.analytic", Nil)
      .flatMap(incl).map(_.recordsRead).sum.toDouble
    val queries = run.walls("point").size + run.walls("analytic").size
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "sources.read_incremental.busy_s" -> (busy("sources.read_incremental"), "s"),
      "sources.read_incremental.files_listed" -> (run.counterMean("sources.read_incremental.files_listed"), "count"),
      "sources.read_incremental.fresh_file_share" -> (run.counterMean("sources.read_incremental.fresh_file_share"), "ratio"),
      "operators.upsert.busy_s" -> (busy("operators.upsert"), "s"),
      "operators.upsert.spark_jobs" -> (jobs("operators.upsert"), "count"),
      "operators.upsert.tasks" -> (tasks("operators.upsert"), "count"),
      "operators.upsert.shuffle_bytes" -> (shuffle("operators.upsert"), "bytes"),
      "operators.upsert.files_admitted_share" -> (run.counterMean("operators.upsert.files_admitted_share"), "ratio"),
      "operators.upsert.useful_row_share" -> (if (written > 0) changeRows / written else 0.0, "ratio"),
      "operators.delta_commit.busy_s" -> (busy("operators.delta_commit"), "s"),
      "operators.compact.busy_s" -> (busy("operators.compact"), "s"),
      "operators.clean.busy_s" -> (busy("operators.clean"), "s"),
      "operators.archive.busy_s" -> (busy("operators.archive"), "s"),
      "operators.agg_refresh.busy_s" -> (busy("operators.agg_refresh"), "s"),
      "model.manifest_bytes_per_commit" -> (run.counterMean("model.manifest_bytes_per_commit"), "bytes"),
      "model.log_files_live" -> (run.counterMean("model.log_files_live"), "count"),
      "model.latest_commit_cold.busy_s" -> (busy("model.latest_commit_cold"), "s"),
      "sql.plan.busy_s" -> (busy("sql.plan"), "s"),
      "sql.exec.busy_s" -> (busy("sql.exec"), "s"),
      "sql.rows_returned_per_row_scanned" -> (if (scanned > 0) returned / scanned else 0.0, "ratio"),
      "sql.files_admitted_share" -> (run.counterMean("sql.files_admitted_share"), "ratio"),
      "sql.queries_per_s" -> (queries / math.max(1e-9, run.timedSeconds), "1/s"),
      "sync.sync.busy_s" -> (busy("sync.sync"), "s"),
      "llm.dedup_refresh.busy_s" -> (busy("llm.dedup_refresh"), "s"),
      "llm.dedup_refresh.spark_jobs" -> (jobs("llm.dedup_refresh"), "count"),
      "llm.dedup_refresh.shuffle_bytes" -> (shuffle("llm.dedup_refresh"), "bytes"),
      "spark.task_wait_s" -> (per("query.point")(s => incl(s).map(_.waitMs).sum / 1e3), "s"),
      "spark.gc_s" -> (per("writer.cycle")(s => incl(s).map(_.gcMs).sum / 1e3), "s"),
      "writer.cycle_drift" -> (drift, "ratio"),
      "writer.cycle_tail_s" -> (Dist(cycles).tail, "s"),
      "sql.point_tail_s" -> (Dist(run.walls("point")).tail, "s"),
      "sql.analytic_tail_s" -> (Dist(run.walls("analytic")).tail, "s"),
      "trace.cycle_p50_s" -> (Dist(cycles).p50, "s"),
      "trace.point_p50_s" -> (Dist(run.walls("point")).p50, "s"),
      "trace.analytic_p50_s" -> (Dist(run.walls("analytic")).p50, "s"))
    m.map { case (k, (v, u)) => k -> ((if (v.isNaN) 0.0 else v), u) }.toMap
  }
}
