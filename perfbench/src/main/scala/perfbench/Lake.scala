package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Inputs and the last-writer-wins model shared by the lake workloads.
  *
  * A row is (k, g, v, s): key, a four-valued group, a value, and a
  * string payload derived from the value. The model holds one value
  * per key and keeps the table's aggregate (count, Σk, Σv, Σh(k, v))
  * up to date, so every check compares against plain arithmetic and
  * never against graft code. */
object Lake {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))

  private val M = 1000000007L
  def v0(k: Long, seed: Long): Long = Math.floorMod(k * 2654435761L + seed * 97L, M)
  def group(k: Long): Int = (k % 2).toInt
  def payload(v: Long): String = "p" + (v % 1000003L)
  def h(k: Long, v: Long): Long = (k * 1000003L + v * 7919L) % M

  final case class Agg(n: Long, sumK: Long, sumV: Long, sumH: Long)

  /** Σ-aggregate of a (k, v) frame, computed by Spark. */
  def aggOf(df: DataFrame): Agg = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)),
      coalesce(sum(col("v")), lit(0L)),
      coalesce(sum((col("k") * 1000003L + col("v") * 7919L) % M), lit(0L)))
      .collect().head
    Agg(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** The base table: `n` rows, keys 0 until n, written as `files`
    * files that each hold one contiguous key range. */
  def writeBase(spark: SparkSession, dir: Path, n: Long, files: Int,
      seed: Long): Unit =
    spark.range(0, n, 1, files)
      .select(col("id").as("k"), (col("id") % 2).cast("int").as("g"),
        pmod(col("id") * 2654435761L + lit(seed * 97L), lit(M)).as("v"))
      .withColumn("s", concat(lit("p"), (col("v") % 1000003L).cast("string")))
      .write.parquet(dir.toString)

  /** A fresh table directory whose files are hard links to `base`. */
  def linkBase(base: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.list(base).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
  }

  final class Model(capacity: Int) {
    val value: Array[Long] = Array.fill(capacity)(-1L)
    var n = 0L
    var sumK = 0L
    var sumV = 0L
    var sumH = 0L
    def get(k: Long): Long = value(k.toInt)
    def put(k: Long, v: Long): Unit = { remove(k); value(k.toInt) = v
      n += 1; sumK += k; sumV += v; sumH += h(k, v) }
    def remove(k: Long): Unit = {
      val old = value(k.toInt)
      if (old >= 0) { value(k.toInt) = -1L
        n -= 1; sumK -= k; sumV -= old; sumH -= h(k, old) }
    }
    def agg: Agg = Agg(n, sumK, sumV, sumH)
    def range(lo: Long, hi: Long): Agg = {
      var c, sk, sv, sh = 0L
      var k = lo
      while (k <= hi) {
        val v = if (k < capacity) value(k.toInt) else -1L
        if (v >= 0) { c += 1; sk += k; sv += v; sh += h(k, v) }
        k += 1
      }
      Agg(c, sk, sv, sh)
    }
  }

  def baseModel(n: Int, capacity: Int, seed: Long): Model = {
    val m = new Model(capacity)
    (0 until n).foreach(k => m.put(k, v0(k, seed)))
    m
  }

  /** `size` distinct keys: `local` of them in one contiguous run at a
    * random offset in [0, hi) so file pruning engages, the rest
    * scattered over [0, hi). */
  def keys(rng: SplittableRandom, size: Int, hi: Long, local: Double): Array[Long] = {
    val run = (size * local).toInt
    val start = rng.nextLong(hi - run)
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    (0 until run).foreach(i => out += start + i)
    while (out.size < size) out += rng.nextLong(hi)
    out.toArray
  }

  /** A batch of rows with fresh values for `ks`. */
  def rows(rng: SplittableRandom, ks: Array[Long]): Array[(Long, Long)] =
    ks.map(k => k -> rng.nextLong(M))

  def frame(spark: SparkSession, batch: Array[(Long, Long)]): DataFrame =
    spark.createDataFrame(batch.toSeq.map { case (k, v) =>
      Row(k, group(k), v, payload(v)) }.asJava, schema)

  def keyFrame(spark: SparkSession, ks: Array[Long]): DataFrame =
    spark.createDataFrame(ks.toSeq.map(k => Row(k)).asJava,
      StructType(Seq(StructField("k", LongType, nullable = false))))

  /** Record a table's files, DV sidecars and bytes as gauges. */
  def recordTable(h: Harness, dir: Path): Unit = {
    val (files, dv, bytes) = dirStats(dir)
    h.gauge("table.files", files.toDouble)
    h.gauge("table.dv_files", dv.toDouble)
    h.gauge("table.bytes", bytes.toDouble)
  }

  /** Data files, deletion-vector sidecars (`v<N>_dv_*.parquet`) and
    * total bytes under a table or output directory. */
  def dirStats(dir: Path): (Long, Long, Long) = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val names = files.map(_.getFileName.toString)
    val dv = names.count(_.contains("_dv_"))
    val data = names.count(n => n.startsWith("part-") ||
      n.endsWith(".parquet") && !n.contains("_dv_"))
    (data.toLong, dv.toLong, files.map(Files.size).sum)
  }
}
