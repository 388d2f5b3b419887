package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.GraftTable
import graft.sources.CdcSource

/** Self-test of the benchmark: the generator is a function of its seed,
  * and the correctness gate catches a missing row and a resurrected
  * deleted key. Run with `python3 perfbench/tests/selftest.py`. */
object SelfTest {
  private val traffic = LineitemTraffic(newOrders = 10, updatedKeys = 40, maxVersions = 3,
    deletes = 6, recentOrders = 50, deleteInsertedOnly = false, filesPerBatch = 3)

  private def land(dir: Path, seed: Long): RawZone = {
    val g = new LineitemGen(seed, 200)
    val z = new RawZone(dir, Specs.lineitem)
    z.landFull(g.fullLoad(), 2)
    val rnd = new java.util.Random(seed + 17)
    (1 to 3).foreach(b => z.landBatch(b, g.batch(traffic), traffic.filesPerBatch, rnd))
    z
  }

  private def bytes(z: RawZone): Seq[(String, Seq[Byte])] =
    z.landed.toSeq.map(l => z.root.relativize(l.path).toString -> Files.readAllBytes(l.path).toSeq)

  def main(argv: Array[String]): Unit = {
    val dir = Paths.get(argv(0))
    var failures = 0
    def expect(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Exception => println(s"  $e"); false }
      println(s"${if (r) "ok  " else "FAIL"} $name")
      if (!r) failures += 1
    }

    val a = land(dir.resolve("a"), 7)
    val b = land(dir.resolve("b"), 7)
    val c = land(dir.resolve("c"), 8)
    expect("the same seed yields byte-identical generated batches")(bytes(a) == bytes(b))
    expect("another seed yields other batches")(bytes(a) != bytes(c))

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val t = new GraftTable(spark, dir.resolve("t").toString, Specs.lineitem.keys,
        targetFileBytes = 16L * 1024)
      val full = CdcSource.listDataFiles(spark, a.root.toString).filter(_._2.contains("LOAD"))
      t.bulkInsert(graft.util.TsNorm.normalize(spark.read.parquet(full.map(_._2): _*)),
        Some(CdcSource.advanceWatermark(None, full)))
      while (CdcSource.readIncremental(spark, a.root.toString, t.latestCheckpoint()) match {
          case Some((df, wm)) => t.upsert(df, Some(wm)); true
          case None => false
        }) ()
      val ref = new Reference(spark, a)
      val cols = Specs.lineitem.names.map(col)
      val snap = t.readUser().select(cols: _*)
      expect("the gate passes the engine's snapshot")(ref.matches(snap))
      expect("the gate flags a snapshot missing one row")(!ref.matches(snap.exceptAll(snap.limit(1))))
      val deleted = ref.tagged.filter(col("_hoodie_is_deleted")).select(Specs.lineitem.keys.map(col): _*)
        .distinct().join(ref.snapshot, Specs.lineitem.keys, "left_anti").limit(1)
      val lastImage = ref.tagged.filter(!col("_hoodie_is_deleted"))
        .join(deleted, Specs.lineitem.keys)
        .orderBy(col("trx_seq").desc).limit(1).select(cols: _*)
      expect("a deleted key exists to resurrect")(lastImage.count() == 1)
      expect("the gate flags a resurrected deleted key")(!ref.matches(snap.unionByName(lastImage)))
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
