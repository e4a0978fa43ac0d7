package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.WordCount
import graft.sources.Snapshots

/** A workload builds its inputs from the seed, sets itself up (timed
  * as set-up, several times), then runs its closed loop in units until
  * the harness stops it, checking each result. */
trait Workload {
  /** Untimed: write the generated inputs under `dir`. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit
  /** The timed part; calls `h.setup` for each set-up repetition. */
  def run(h: Harness, dir: Path): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "wordcount" => new WordCountLoad
    case "lake_upsert" => new LakeUpsert
    case "stream_upsert" => new StreamUpsert
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
}

/** The reference's whole job: count the words of a set of text files,
  * then write the counts once to 16 reducer files (`djb2 % 16`) and
  * once to a single combined file. One pass is one operation and one
  * unit. */
final class WordCountLoad extends Workload {
  private val FileCount = 8
  private val Tokens = 4000000
  private val Vocab = 30000
  private val Skew = 1.1
  private val SetupReps = 3
  private var words: Array[String] = _
  private var counts: Array[Long] = _
  private var paths: Seq[String] = Seq.empty

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rng = new SplittableRandom(seed)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < Vocab) {
      val len = 2 + rng.nextInt(9)
      seen += new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }
    words = seen.toArray
    counts = new Array[Long](Vocab)
    // Zipf-like rank weights 1/r^s; a token is drawn by inverse CDF
    val cdf = new Array[Double](Vocab)
    var acc = 0.0
    (0 until Vocab).foreach { r => acc += 1.0 / math.pow(r + 1, Skew); cdf(r) = acc }
    Files.createDirectories(dir.resolve("corpus"))
    paths = (0 until FileCount).map { f =>
      val sb = new java.lang.StringBuilder
      (0 until Tokens / FileCount).foreach { _ =>
        var r = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * acc)
        if (r < 0) r = math.min(-r - 1, Vocab - 1)
        counts(r) += 1
        sb.append(words(r))
        // runs of mixed whitespace must collapse like one separator
        val sep = rng.nextInt(40)
        sb.append(if (sep == 0) "\n" else if (sep == 1) " \t " else " ")
      }
      val p = dir.resolve("corpus").resolve(s"$f.txt")
      Files.write(p, sb.toString.getBytes(UTF_8))
      p.toString
    }
  }

  /** The reference's reducer id: unsigned 64-bit djb2 over the UTF-8
    * bytes (signed, as C `char`), mod 16. */
  private def reducer(w: String): Int = {
    var hash = 5381L
    w.getBytes(UTF_8).foreach(b => hash = hash * 33 + b)
    (hash & 15L).toInt
  }

  private def readCounts(dir: Path): Seq[(Path, String, Long)] =
    Files.walk(dir).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .toSeq.flatMap { f =>
        Files.readAllLines(f, UTF_8).asScala.map { l =>
          val i = l.lastIndexOf(':')
          (f, l.substring(0, i), l.substring(i + 1).toLong)
        }
      }

  /** Every word once with its generated count, in its djb2 reducer's
    * directory, and all of them in one combined file. */
  private def check(out16: Path, out1: Path): Boolean = {
    val expected = words.indices.filter(counts(_) > 0)
      .map(i => words(i) -> counts(i)).toMap
    val sixteen = readCounts(out16)
    val one = readCounts(out1)
    sixteen.size == expected.size && one.size == expected.size &&
      sixteen.forall { case (f, w, c) =>
        expected.get(w).contains(c) &&
          f.getParent.getFileName.toString == s"pid=${reducer(w)}" } &&
      one.forall { case (_, w, c) => expected.get(w).contains(c) } &&
      one.map(_._1).distinct.size == 1
  }

  def run(h: Harness, dir: Path): Unit = {
    val spark = h.spark
    var n = 0
    def pass(): (Path, Path) = {
      n += 1
      val out16 = dir.resolve(s"out$n-16")
      val out1 = dir.resolve(s"out$n-1")
      val counted = h.call("wc.count")(WordCount.fromTextFiles(spark, paths))
      h.call("wc.sink")(WordCount.writeCounts(counted, out16.toString, 16))
      h.call("wc.sink")(WordCount.writeCounts(counted, out1.toString, 1))
      (out16, out1)
    }
    def clean(p: (Path, Path)): Unit = { Workload.delete(p._1); Workload.delete(p._2) }
    // set-up is the JIT warm-up: the first pass of a fresh JVM is slow
    (0 until SetupReps).foreach(_ => clean(h.setup(pass())))
    h.startMeasuring()
    while (h.moreUnits) {
      h.beginUnit()
      var out: (Path, Path) = null
      h.op("wc.pass", Tokens) { out = pass(); out } { case (a, b) => check(a, b) }
      if (out != null) {
        if (h.traceRun) Lake.recordTable(h, out._1)
        clean(out)
      }
    }
    h.endUnit()
    // a one-thread count, as the reference's scaling runs make it
    if (h.traceRun) {
      val t0 = System.nanoTime()
      WordCount.tokenize(spark.read.text(paths: _*).repartition(1).toDF("text"), "text")
        .groupBy("word").count().write.format("noop").mode("overwrite").save()
      h.gauge("wc.local1_tokens_per_s", Tokens / ((System.nanoTime() - t0) / 1e9))
    }
  }
}

/** A keyed table receives a fixed round of commits, with reads of
  * the states they leave between them: copy-on-write and merge-on-read
  * merges, a merge-on-read delete, an append and a reconcile, and point
  * lookups, pruned ranges, head scans and time-travel reads. Each round
  * starts from a freshly bootstrapped table (its set-up), so the
  * history every operation sees is fixed by the workload, never by how
  * fast the machine is. Arguments and expected results are computed
  * once from the seed, so every round repeats the same work. A round is
  * one unit. */
final class LakeUpsert extends Workload {
  private val Rows = 100000
  private val FileCount = 16
  private val Batch = 1000
  private val Local = 0.9
  private val RangeWidth = 1000
  // time travel reads one seeded version from before the first
  // merge-on-read commit and one from after it, so every seed's round
  // reads with and without outstanding marks alike
  private val Round = Seq("merge_cow", "merge_mor", "point", "range",
    "delete_mor", "append", "scan", "timetravel_clean", "timetravel_marked",
    "reconcile")
  private val WarmReps = 2
  private val WarmRounds = 2

  /** One step of the round: a commit's batch (keys, values), or a read's
    * argument, with the result the model expects. */
  private final case class Step(kind: String, batch: Array[(Long, Long)],
      arg: Long, expect: Lake.Agg, expectValue: Long)
  private var steps: Seq[Step] = Seq.empty
  private var expected: Lake.Agg = _

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rng = new SplittableRandom(seed)
    val model = Lake.baseModel(Rows, Rows + Round.size * Batch, seed)
    val versions = mutable.ArrayBuffer(model.agg)
    var next = Rows.toLong
    def commit(kind: String, b: Array[(Long, Long)]): Step = {
      if (kind == "delete_mor") b.foreach { case (k, _) => model.remove(k) }
      else b.foreach { case (k, v) => model.put(k, v) }
      versions += model.agg
      Step(kind, b, 0, null, 0)
    }
    steps = Round.map {
      case "append" =>
        val b = Lake.rows(rng, Array.tabulate(Batch)(next + _))
        next += Batch
        commit("append", b)
      case "delete_mor" => commit("delete_mor", Lake.keys(rng, Batch / 2, next, Local).map(_ -> 0L))
      case "reconcile" =>
        // folding the marks commits a version with the same rows
        versions += model.agg
        Step("reconcile", Array.empty, 0, null, 0)
      case kind @ ("merge_cow" | "merge_mor") =>
        // a merge updates live and deleted keys and inserts a few new ones
        val fresh = Array.tabulate(Batch / 20)(next + _)
        next += fresh.length
        commit(kind, Lake.rows(rng, Lake.keys(rng, Batch - fresh.length,
          next - fresh.length, Local) ++ fresh))
      case "point" =>
        // some probes miss: keys past the head, or deleted ones
        val k = rng.nextLong(next + next / 50)
        Step("point", Array.empty, k, null, if (k < next) model.get(k) else -1L)
      case "range" =>
        val lo = rng.nextLong(next)
        Step("range", Array.empty, lo, model.range(lo, lo + RangeWidth - 1), 0)
      case "scan" => Step("scan", Array.empty, 0, model.agg, 0)
      case "timetravel_clean" =>
        val v = rng.nextInt(Round.indexOf("merge_mor") + 1)
        Step("timetravel", Array.empty, v, versions(v), 0)
      case "timetravel_marked" =>
        val first = Round.indexOf("merge_mor") + 1
        val v = first + rng.nextInt(versions.size - first)
        Step("timetravel", Array.empty, v, versions(v), 0)
    }
    expected = model.agg
    Lake.writeBase(spark, dir.resolve("base"), Rows, FileCount, seed)
  }

  def run(h: Harness, dir: Path): Unit = {
    val spark = h.spark
    var round = 0
    def fresh(): Path = {
      round += 1
      val t = dir.resolve(s"t$round")
      Lake.linkBase(dir.resolve("base"), t)
      Snapshots.init(spark, t.toString)
      t
    }
    def playRound(dirT: Path): Unit = {
      var v = Snapshots.currentVersion(dirT.toString)
      steps.foreach { step =>
        val before = if (h.traceRun) Lake.dirStats(dirT)._3 else 0L
        v = run(h, dirT.toString, step, v)
        if (h.traceRun && step.expect == null && step.kind != "point")
          h.sample(s"${step.kind}.bytes_written", (Lake.dirStats(dirT)._3 - before).toDouble)
      }
      h.endUnit()
      h.checkAfter(steps.size, "lake_upsert table") {
        val got = Lake.aggOf(spark.read.format("graft").load(dirT.toString))
        if (got != expected) System.err.println(s"perfbench: table $got, model $expected")
        got == expected
      }
      if (h.traceRun) Lake.recordTable(h, dirT)
      Workload.delete(dirT)
    }
    // the first set-up also plays untimed rounds: a fresh JVM runs the
    // commit and read paths several times slower until they are
    // compiled
    h.setup((0 until WarmRounds).foreach(_ => playRound(fresh())))
    (1 until WarmReps).foreach(_ => Workload.delete(h.setup(fresh())))
    h.startMeasuring()
    while (h.moreUnits) {
      val dirT = h.setup(fresh())
      h.beginUnit()
      playRound(dirT)
    }
  }

  /** Run one step against table `t` at version `v`; return the version
    * after it. */
  private def run(h: Harness, t: String, step: Step, v: Int): Int = {
    val spark = h.spark
    var after = v
    def committed(got: Int): Boolean = { after = got; got == v + 1 }
    def agg(df: => org.apache.spark.sql.DataFrame): Unit =
      h.op(step.kind, step.expect.n)(Lake.aggOf(df))(_ == step.expect)
    val b = step.batch
    step.kind match {
      case "merge_cow" => h.op(step.kind, b.length)(
        Snapshots.mergeVersioned(spark, t, Lake.frame(spark, b), "k"))(committed)
      case "merge_mor" => h.op(step.kind, b.length)(
        Snapshots.mergeVersionedDV(spark, t, Lake.frame(spark, b), "k"))(committed)
      case "delete_mor" => h.op(step.kind, b.length)(
        Snapshots.deleteVersionedKeysDV(spark, t, Lake.keyFrame(spark, b.map(_._1)), "k"))(committed)
      case "append" => h.op(step.kind, b.length)(
        Snapshots.appendVersioned(spark, t, Lake.frame(spark, b)))(committed)
      case "reconcile" => h.op(step.kind, 0)(Snapshots.reconcileDV(spark, t))(committed)
      case "point" =>
        val (k, value) = (step.arg, step.expectValue)
        h.op("point", 1)(Snapshots.readPointLookup(spark, t, "k", k).collect()) { rows =>
          if (value < 0) rows.isEmpty
          else rows.length == 1 && rows(0).getAs[Long]("v") == value &&
            rows(0).getAs[Int]("g") == Lake.group(k) &&
            rows(0).getAs[String]("s") == Lake.payload(value)
        }
      case "range" =>
        agg(Snapshots.readPrunedRange(spark, t, "k", step.arg, step.arg + RangeWidth - 1))
      case "scan" => agg(spark.read.format("graft").load(t))
      case "timetravel" =>
        agg(spark.read.format("graft").option("versionAsOf", step.arg).load(t))
    }
    after
  }
}

/** A change-data-feed source table streams through
  * `readStream.format("graft")` into a merge-on-read, partitioned
  * `writeStream.format("graft")` sink. Each step commits one wave to
  * the source and waits for the stream to apply it. Each round starts
  * from fresh tables and a fresh query (its set-up) and is one unit. */
final class StreamUpsert extends Workload {
  private val Rows = 50000
  private val FileCount = 4
  private val Wave = 1000
  private val Steps = 4
  private val WarmReps = 2
  private val WarmSteps = 1
  private var waves: Seq[Array[(Long, Long)]] = Seq.empty
  private var expected: Lake.Agg = _

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rng = new SplittableRandom(seed)
    val model = Lake.baseModel(Rows, Rows + Steps * Wave, seed)
    var next = Rows.toLong
    waves = (0 until Steps).map { _ =>
      val fresh = Array.tabulate(Wave / 10)(next + _)
      next += fresh.length
      val b = Lake.rows(rng, Lake.keys(rng, Wave - fresh.length, next - fresh.length, 0.9) ++ fresh)
      b.foreach { case (k, v) => model.put(k, v) }
      b
    }
    expected = model.agg
    Lake.writeBase(spark, dir.resolve("base"), Rows, FileCount, seed)
  }

  private final case class Pipe(src: Path, dst: Path, ckpt: Path, q: StreamingQuery) {
    def stop(): Unit = { q.stop(); Seq(src, dst, ckpt).foreach(Workload.delete) }
  }

  def run(h: Harness, dir: Path): Unit = {
    val spark = h.spark
    var round = 0
    def start(): Pipe = {
      round += 1
      val src = dir.resolve(s"src$round")
      val dst = dir.resolve(s"dst$round")
      val ckpt = dir.resolve(s"ckpt$round")
      Lake.linkBase(dir.resolve("base"), src)
      Snapshots.init(spark, src.toString, changeDataFeed = true)
      val q = spark.readStream.format("graft")
        .option("keyCol", "k").option("maxVersionsPerTrigger", "1").load(src.toString)
        .filter(col("change_type") =!= "delete")
        .drop("change_type", "_commit_version")
        .writeStream.format("graft")
        .option("keyCol", "k")
        .option("morWrites", "true")
        .option("autoReconcileMaxDvFiles", "2")
        .option("checkpointLocation", ckpt.toString)
        .partitionBy("g")
        .start(dst.toString)
      // the first micro-batch delivers the source's snapshot
      q.processAllAvailable()
      Pipe(src, dst, ckpt, q)
    }
    def step(p: Pipe, w: Array[(Long, Long)]): Unit = {
      val t0 = System.nanoTime()
      h.call("stream.source_commit")(
        Snapshots.mergeVersioned(spark, p.src.toString, Lake.frame(spark, w), "k"))
      h.sample("stream.source_commit_s", (System.nanoTime() - t0) / 1e9)
      h.op("batch", w.length)(p.q.processAllAvailable())(_ => p.q.exception.isEmpty)
    }
    // the first set-up also runs untimed steps, to compile the commit
    // and micro-batch paths before they are timed
    h.setup { val p = start(); waves.take(WarmSteps).foreach(step(p, _)); p }.stop()
    (1 until WarmReps).foreach(_ => h.setup(start()).stop())
    h.startMeasuring()
    while (h.moreUnits) {
      val p = h.setup(start())
      h.beginUnit()
      waves.foreach(step(p, _))
      h.endUnit()
      h.checkAfter(Steps, "stream sink head") {
        val sink = Lake.aggOf(spark.read.format("graft").option("partitionCol", "g")
          .load(p.dst.toString))
        val source = Lake.aggOf(spark.read.format("graft").load(p.src.toString))
        if (sink != expected || source != expected)
          System.err.println(s"perfbench: sink $sink, source $source, model $expected")
        sink == expected && source == expected
      }
      if (h.traceRun) Lake.recordTable(h, p.dst)
      p.stop()
    }
  }
}
