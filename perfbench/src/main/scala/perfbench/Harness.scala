package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop driver shared by the workloads: one client thread issues
  * one operation at a time, times it, and checks its result against
  * the workload's own model.
  *
  * A traced run brackets one traced unit of work between two untraced
  * ones; the ratio of their medians is the tracing overhead. */
final class Harness(val spark: SparkSession, seconds: Double,
    val traceRun: Boolean) {
  final class Samples {
    val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val rowsOf = mutable.Map[String, Long]().withDefaultValue(0L)
    var rows = 0L
    var busy = 0.0
    def add(kind: String, s: Double, r: Long): Unit = {
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer()) += s
      rowsOf(kind) += r
      rows += r
      busy += s
    }
    def ops: Int = lat.valuesIterator.map(_.size).sum
  }

  val plain = new Samples
  val traced = new Samples
  val setupReps = mutable.ArrayBuffer[Double]()
  /** Layer figures a workload records beside the spans: the last value
    * of a gauge, and every value of a sample taken while tracing. */
  val gauges = mutable.LinkedHashMap[String, Double]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  private var tracing = false
  private var units = 0
  private var measureStart = 0L
  // operations before measuring starts are warm-up: checked, not timed
  private var measuring = false

  def gauge(name: String, v: Double): Unit = gauges(name) = v
  def sample(name: String, v: Double): Unit =
    if (tracing) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Time one repetition of the workload's set-up. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupReps += (System.nanoTime() - t0) / 1e9
    r
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var gcAtStart = 0L

  def startMeasuring(): Unit = {
    gcAtStart = gcMillis
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    measureStart = System.nanoTime()
    measuring = true
    System.err.println(s"perfbench: set-up done, measuring")
  }

  /** GC time and peak heap since measuring started. */
  def gcSeconds: Double = (gcMillis - gcAtStart) / 1e3
  def heapPeakBytes: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum.toDouble

  private def elapsed: Double = (System.nanoTime() - measureStart) / 1e9

  /** Whether to start another unit. An untraced run measures for its
    * seconds. A traced run runs three units, untraced, traced and
    * untraced, so the JVM's warming over the run does not pass for
    * tracing overhead. */
  def moreUnits: Boolean = if (traceRun) units < 3 else elapsed < seconds

  /** Start the next unit of work: one operation, or one round of a
    * round-based workload. In a traced run the middle unit is traced. */
  def beginUnit(): Unit = {
    endUnit()
    tracing = traceRun && units % 2 == 1
    units += 1
    if (tracing) tracer.attach()
  }

  /** End the current unit; tracing stops with it. */
  def endUnit(): Unit = if (tracing) { tracer.detach(); tracing = false }

  /** A span around a call into a layer, recorded only while tracing. */
  def call[T](name: String)(body: => T): T =
    if (tracing) tracer.span(name)(body) else body

  /** Run and time one operation of `kind` that handles `rows` rows,
    * then check its result. A throw or a failed check counts as a
    * failed operation. */
  def op[A](kind: String, rows: Long)(run: => A)(check: A => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val result =
      try Some(call(kind)(run))
      catch { case e: Exception =>
        System.err.println(s"perfbench: $kind failed: $e")
        None
      }
    val s = (System.nanoTime() - t0) / 1e9
    result match {
      case Some(r) =>
        if (measuring) (if (tracing) traced else plain).add(kind, s, rows)
        if (!check(r)) {
          System.err.println(s"perfbench: $kind returned a wrong result")
          failed += 1
        }
      case None => failed += 1
    }
  }

  /** A check made after several operations: a mismatch fails all of
    * them. */
  def checkAfter(n: Int, what: String)(ok: => Boolean): Unit = {
    val good =
      try ok
      catch { case e: Exception =>
        System.err.println(s"perfbench: $what check threw: $e"); false
      }
    if (!good) {
      System.err.println(s"perfbench: $what does not match the model")
      failed += n
    }
  }
}
