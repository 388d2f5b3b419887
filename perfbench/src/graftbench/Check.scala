package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Order-insensitive checksum of a row set: the row count and the sum of
  * a 64-bit hash per row. */
final case class Sum(rows: Long, hash: BigInt)

object Sum {
  val empty: Sum = Sum(0L, BigInt(0))

  /** Canonical text of one value: decimals without trailing zeros (a sum
    * may come back at another scale), timestamps as epoch micros. */
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
    case x => x.toString
  }

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  /** Checksum of collected rows (query results). */
  def of(rows: Iterable[Row]): Sum =
    rows.foldLeft(empty) { (acc, r) =>
      val s = (0 until r.length).map(i => canon(r.get(i))).mkString("\u0001")
      Sum(acc.rows + 1, acc.hash + BigInt(hash64(s)))
    }

  /** Checksum of a DataFrame computed by Spark (snapshots too large to
    * collect): every column rendered as a string, in the given order. */
  def ofFrame(df: DataFrame, cols: Seq[String]): Sum = {
    val h = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Sum(r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }
}

/** The plain-Spark reference: what the table must hold, recomputed from
  * the landed raw files alone. Latest version by `trx_seq` wins; on equal
  * `trx_seq` the tombstone wins; deleted keys are absent. */
final class Reference(spark: SparkSession, zone: RawZone) {
  private val spec = zone.spec
  private val keys: Seq[Column] = spec.keys.map(col)

  /** Every landed row with `_batch`, the number of CDC batches that must
    * be applied for the row to be visible (0 = the full load). Timestamps
    * without time zone are read as session-zone timestamps, the same
    * normalization the engine's source applies. */
  lazy val tagged: DataFrame = {
    import spark.implicits._
    val byName = zone.landed.map(l => l.path.getFileName.toString -> l.batch).toSeq
      .toDF("_file", "_batch")
    val raw = spark.read.parquet(zone.landed.map(_.path.toString).toSeq: _*)
      .withColumn("_file", col("_metadata.file_name"))
    val ts = raw.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
    ts.foldLeft(raw)((d, c) => d.withColumn(c, col(c).cast("timestamp")))
      .join(broadcast(byName), "_file").drop("_file")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def newestFirst: Seq[Column] =
    Seq(col("trx_seq").desc, col("_hoodie_is_deleted").desc)

  /** The expected final snapshot: each key's last version unless it is
    * a tombstone; user columns in spec order. */
  def snapshot: DataFrame =
    versions.filter(col("_to") === Int.MaxValue && !col("_hoodie_is_deleted"))
      .select(spec.names.map(col): _*)

  /** The correctness gate on a table's snapshot: the same rows as
    * [[snapshot]], in any order (compared by [[Sum]] over the user
    * columns). A missing, extra, stale or resurrected row fails it. */
  def matches(actual: DataFrame): Boolean =
    Sum.ofFrame(actual, spec.names) == Sum.ofFrame(snapshot, spec.names)

  /** Each key's version that wins after each batch, live over batches
    * [`_from`, `_to`). The snapshot after k batches is every version with
    * `_from <= k < _to` that is not a tombstone (trx_seq rises from batch
    * to batch, so a batch's winner beats every earlier batch). */
  lazy val versions: DataFrame = {
    val perBatch = tagged.withColumn("_rn", row_number().over(
        Window.partitionBy((keys :+ col("_batch")): _*).orderBy(newestFirst: _*)))
      .filter(col("_rn") === 1).drop("_rn")
    perBatch.withColumn("_to", coalesce(
        lead(col("_batch"), 1).over(Window.partitionBy(keys: _*).orderBy(col("_batch"))),
        lit(Int.MaxValue)))
      .withColumnRenamed("_batch", "_from")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Expected snapshots after each of `ks` batches, tagged `_k`. */
  def snapshotsAt(ks: Seq[Int], filter: Column = lit(true)): DataFrame = {
    import spark.implicits._
    val kdf = ks.distinct.toDF("_k")
    versions.filter(filter && !col("_hoodie_is_deleted"))
      .join(broadcast(kdf), col("_from") <= col("_k") && col("_k") < col("_to"))
      .select((col("_k") +: spec.names.map(col)): _*)
  }
}
