package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload once and prints its result as the last line of
  * standard output:
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --report <dir>
  *
  * `--work` holds the generated inputs and tables (removed at exit);
  * `--report` receives the full report and, for a traced run, the
  * spans. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceRun = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val reportDir = Paths.get(opts("report")).toAbsolutePath
    val workload = Workload(name)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val dir = work.resolve(name)
    Workload.delete(dir)
    Files.createDirectories(dir)
    val h = new Harness(spark, seconds, traceRun)
    def mark(what: String): Unit = System.err.println(f"perfbench: $what at ${
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    try {
      mark("session up")
      workload.generate(spark, dir, seed)
      mark("inputs generated")
      workload.run(h, dir)
      mark("measured")
    } finally {
      spark.stop()
      Workload.delete(dir)
      mark("stopped")
    }
    // the first set-up also paid for starting the JVM and the session
    h.setupReps(0) += sessionS

    val report = Report(name, seed, seconds, cores, h)
    Files.createDirectories(reportDir)
    val stem = s"$name-seed$seed-trace${if (traceRun) 1 else 0}"
    Files.write(reportDir.resolve(s"$stem.json"), Json(report.full).getBytes(UTF_8))
    if (traceRun)
      Files.write(reportDir.resolve(s"$stem-spans.json"),
        Json(h.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.start,
          "end_ms" -> s.end)).toSeq).getBytes(UTF_8))
    System.err.println(report.table)
    val metrics = if (traceRun) report.perLayer else report.endToEnd
    println(Json(Map(
      "correct" -> (h.failed == 0),
      "attempted" -> h.attempted,
      "failed" -> math.min(h.failed, h.attempted),
      "metrics" -> metrics.map { case (k, (v, unit)) =>
        k -> Map("value" -> v, "unit" -> unit) })))
  }
}

/** The metrics of one run, computed from the harness's samples and the
  * tracer's spans and Spark events. */
final case class Report(name: String, seed: Long, seconds: Double,
    cores: Int, h: Harness) {
  import Report._

  private def p50s(s: Harness#Samples): Map[String, Double] =
    s.lat.map { case (k, xs) => k -> median(xs.toSeq) }.toMap

  private val plainP50 = p50s(h.plain)
  private val tracedP50 = p50s(h.traced)

  /** Metrics a user sees, from untraced operations. `op_p50_s` is the
    * geometric mean of each operation kind's median, so every kind in a
    * mixed workload weighs the same. */
  val endToEnd: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap(
    "setup_s" -> (median(h.setupReps.toSeq), "s"),
    "op_p50_s" -> (geomean(plainP50.values.toSeq), "s"),
    "ops_per_s" -> (h.plain.ops / h.plain.busy, "1/s"),
    "rows_per_s" -> (h.plain.rows / h.plain.busy, "rows/s"))

  /** The same run's figures under the per-operation names. */
  val byKind: mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m("error_rate") = h.failed.toDouble / h.attempted
    h.plain.lat.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val key = k.replace('.', '_')
      m(s"${key}_p50_s") = median(xs.toSeq)
      m(s"${key}_n") = xs.size
      // the highest percentile with at least ten samples beyond it
      if (xs.size >= 20) {
        val q = math.floor(100.0 * (1 - 10.0 / xs.size)).toInt
        m(s"${key}_p${q}_s") = percentile(xs.toSeq, q / 100.0)
      }
    }
    val lat = h.plain.lat
    name match {
      case "wordcount" => m("wc_tokens_per_s") = h.plain.rows / h.plain.busy
      case "lake_upsert" =>
        val (commits, reads) = lat.partition { case (k, _) => Commits(k) }
        m("commits_per_s") = commits.values.map(_.size).sum / commits.values.map(_.sum).sum
        m("reads_per_s") = reads.values.map(_.size).sum / reads.values.map(_.sum).sum
      case "stream_upsert" => m("stream_rows_per_s") = h.plain.rows / h.plain.busy
      case _ =>
    }
    m
  }

  /** Per-kind layer figures from the traced operations, each a mean
    * per operation. */
  lazy val kinds: mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]] = {
    val t = h.tracer
    val spans = t.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val jobsOf = mutable.Map[Int, mutable.ArrayBuffer[JobRec]]()
    t.jobs.values.foreach { j =>
      val holders = spans.filter(s => s.start <= j.start && j.start <= s.end)
      if (holders.nonEmpty) jobsOf.getOrElseUpdate(
        holders.maxBy(s => (depth(s), s.start)).id, mutable.ArrayBuffer()) += j
    }
    val children = spans.groupBy(_.parent)
    val out = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]]()
    def acc(kind: String, key: String, v: Double): Unit = {
      val m = out.getOrElseUpdate(kind, mutable.LinkedHashMap())
      m(key) = m.getOrElse(key, 0.0) + v
    }
    val seenStages = mutable.Set[Int]()
    spans.foreach { s =>
      val js = jobsOf.getOrElse(s.id, mutable.ArrayBuffer())
      val covered = js.toSeq.map(j => (j.start, if (j.end < 0) s.end else j.end)) ++
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      acc(s.name, "n", 1)
      acc(s.name, "wall_s", (s.end - s.start) / 1e3)
      acc(s.name, "driver_s", (s.end - s.start - union(covered, s.start, s.end)) / 1e3)
      acc(s.name, "jobs", js.size)
      js.foreach(j => j.stages.foreach { id =>
        t.stages.get(id).filter(_ => seenStages.add(id)).foreach { st =>
          // the map side of a word-count write is the count itself
          val kind = if (s.name == "wc.sink" && st.isMap) "wc.count" else s.name
          acc(kind, "tasks", st.tasks)
          acc(kind, "exec_s", st.runMs / 1e3)
          acc(kind, "shuffle_bytes", st.shuffleWrite)
          acc(kind, "shuffle_records", st.shuffleRecords)
          acc(kind, "input_bytes", st.inputBytes)
          acc(kind, "input_rows", st.inputRecords)
          acc(kind, "spill_bytes", st.spill)
        }
      })
    }
    out
  }

  /** Metrics of single layers, from the traced run. */
  lazy val perLayer: mutable.LinkedHashMap[String, (Double, String)] = {
    // spans around work that is not itself a timed operation, such as
    // the stream's source commits, stay in the per-kind table only
    val opRoots = h.tracer.spans.filter(s => s.parent < 0 && h.traced.lat.contains(s.name))
    val side = h.tracer.spans.filter(_.parent < 0).map(_.name).toSet -- opRoots.map(_.name)
    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    kinds.filter { case (k, _) => !side(k) }.valuesIterator
      .foreach(_.foreach { case (k, v) => tot(k) += v })
    val ops = math.max(1, h.traced.ops).toDouble
    val rootWall = opRoots.map(s => s.end - s.start).sum / 1e3
    val both = tracedP50.keySet.intersect(plainP50.keySet).toSeq
    mutable.LinkedHashMap(
      "graft.driver_s_per_op" -> (tot("driver_s") / ops, "s"),
      "graft.driver_share" -> (tot("driver_s") / math.max(rootWall, 1e-9), "ratio"),
      "spark.jobs_per_op" -> (tot("jobs") / ops, "count"),
      "spark.tasks_per_op" -> (tot("tasks") / ops, "count"),
      "spark.exec_s_per_op" -> (tot("exec_s") / ops, "s"),
      "spark.shuffle_bytes_per_op" -> (tot("shuffle_bytes") / ops, "bytes"),
      "spark.input_bytes_per_op" -> (tot("input_bytes") / ops, "bytes"),
      "spark.input_rows_per_row" -> (tot("input_rows") / math.max(1L, h.traced.rows), "ratio"),
      "spark.spill_bytes_per_op" -> (tot("spill_bytes") / ops, "bytes"),
      "traced.op_p50_s" -> (geomean(tracedP50.values.toSeq), "s"),
      "trace.overhead_ratio" -> (geomean(both.map(tracedP50)) / geomean(both.map(plainP50)), "ratio"),
      "jvm.gc_s" -> (h.gcSeconds, "s"),
      "jvm.heap_peak_bytes" -> (h.heapPeakBytes, "bytes"),
      "table.files" -> (h.gauges.getOrElse("table.files", 0.0), "count"),
      "table.bytes" -> (h.gauges.getOrElse("table.bytes", 0.0), "bytes"))
  }

  /** Everything, under both naming schemes, for the report file. */
  def full: Map[String, Any] = Map(
    "workload" -> name, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
    "trace" -> h.traceRun, "attempted" -> h.attempted, "failed" -> h.failed,
    "setup_reps_s" -> h.setupReps.toSeq,
    "end_to_end" -> endToEnd.map { case (k, (v, _)) => k -> v }.toMap,
    "by_kind" -> byKind.toMap,
    "untraced_ops" -> h.plain.ops, "traced_ops" -> h.traced.ops,
    "untraced_latencies_s" -> h.plain.lat.map { case (k, xs) => k -> xs.toSeq }.toMap) ++
    (if (!h.traceRun) Map.empty else Map(
      "per_layer" -> perLayer.map { case (k, (v, _)) => k -> v }.toMap,
      "kinds" -> kinds.map { case (k, m) => k -> perOp(k, m) }.toMap,
      "gauges" -> h.gauges.toMap,
      "shuffle_records_per_row" -> kinds.valuesIterator.map(_.getOrElse("shuffle_records", 0.0)).sum /
        math.max(1L, h.traced.rows),
      "samples_p50" -> h.samples.map { case (k, xs) => k -> median(xs.toSeq) }.toMap,
      "stream_progress_p50_s" -> streamProgress))

  private def perOp(kind: String, m: mutable.LinkedHashMap[String, Double]): Map[String, Double] = {
    val n = math.max(1.0, m.getOrElse("n", 1.0))
    val rows = h.traced.rowsOf.getOrElse(kind, 0L)
    m.map { case (k, v) => k -> (if (k == "n") v else v / n) }.toMap ++
      tracedP50.get(kind).map(p => "p50_s" -> p) ++
      (if (rows > 0) Map("input_rows_per_row" -> m.getOrElse("input_rows", 0.0) / rows)
       else Map.empty)
  }

  private def streamProgress: Map[String, Double] = {
    val ev = h.tracer.progress.filter(_.progress.numInputRows > 0).toSeq
    def p50(key: String) = median(ev.flatMap(e =>
      Option(e.progress.durationMs.get(key)).map(_.longValue / 1e3)))
    if (ev.isEmpty) Map.empty
    else Map("batch.add_batch_s" -> p50("addBatch"),
      "batch.trigger_s" -> p50("triggerExecution"),
      "batch.planning_s" -> p50("queryPlanning"))
  }

  /** A readable summary for standard error. */
  def table: String = {
    val sb = new StringBuilder
    sb ++= f"== $name seed=$seed trace=${h.traceRun} attempted=${h.attempted} failed=${h.failed}%n"
    sb ++= s"setup reps (s): ${h.setupReps.map(x => f"$x%.3f").mkString(" ")}\n"
    endToEnd.foreach { case (k, (v, u)) => sb ++= f"  $k%-28s $v%14.6f $u%n" }
    byKind.foreach { case (k, v) => sb ++= f"  $k%-28s $v%14.6f%n" }
    if (h.traceRun) {
      val cols = Seq("n", "p50_s", "wall_s", "driver_s", "jobs", "tasks", "exec_s",
        "shuffle_bytes", "input_bytes", "input_rows", "spill_bytes")
      sb ++= f"  ${"kind (per op)"}%-22s" + cols.map(c => f"$c%14s").mkString + "\n"
      kinds.foreach { case (k, m) =>
        val po = perOp(k, m)
        sb ++= f"  $k%-22s" + cols.map(c => f"${po.getOrElse(c, Double.NaN)}%14.4f").mkString + "\n"
      }
      perLayer.foreach { case (k, (v, u)) => sb ++= f"  $k%-28s $v%18.6f $u%n" }
      h.gauges.foreach { case (k, v) => sb ++= f"  $k%-28s $v%18.3f%n" }
      h.samples.foreach { case (k, xs) => sb ++= f"  ${k + " (p50)"}%-28s ${median(xs.toSeq)}%18.6f%n" }
      streamProgress.foreach { case (k, v) => sb ++= f"  $k%-28s $v%18.6f%n" }
    }
    sb.toString
  }
}

object Report {
  val Commits = Set("merge_cow", "merge_mor", "delete_mor", "append", "reconcile")

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Minimal JSON output for maps, sequences, numbers, strings and
  * booleans. */
object Json {
  def apply(x: Any): String = x match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => quote(k.toString) + ":" + apply(v) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => quote(s)
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
