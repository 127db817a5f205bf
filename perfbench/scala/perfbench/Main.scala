package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: inputs, a scratch directory, the seed,
  * the trace and the report.
  */
final case class Ctx(inputs: Path, work: Path, seed: Long, inject: String,
    trace: Trace, report: Report)

trait Workload {
  /** Set-up work after the session exists (timed into `setup_s`). */
  def prepare(spark: SparkSession): Unit
  /** Untimed work between set-up and the timed rounds (the cold check
    * pass, or starting the subscriber). Returns its ms.
    */
  def warm(spark: SparkSession): Double
  /** One timed round; returns each op's kind and ms. */
  def round(spark: SparkSession): Seq[(String, Double)]
  /** End-of-run checks and workload-specific metrics. */
  def finish(spark: SparkSession): Unit
  /** The op schedule repeats every `period` rounds (the layout's fold
    * cadence); a run makes whole periods, at least one.
    */
  def period: Int
}

/** Runs one workload in one JVM and writes its metrics as JSON.
  *
  * Usage: Main <workload> <inputsDir> <workDir> <seed> <seconds> <trace 0|1>
  *             <inject> <resultJson>
  *        Main --oracle-sql <outJson>
  *
  * `setup_s` is the wall time from the JVM's start to the end of the
  * set-up (a new SparkSession plus the workload's `prepare`): the
  * program's cold start. The timed loop runs whole periods of rounds
  * for about `seconds`. In a traced run, the first period is traced
  * throughout and gives the per-layer metrics. The periods after it
  * are paired (see [[Trace]]): each op key runs once traced and once
  * not, in alternating order, and the tracing overhead is the median of
  * their differences, so warm-up does not count as overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracle-sql") {
      Files.write(Paths.get(args(1)), QueryMix.oracleJson.getBytes("UTF-8"))
      return
    }
    val Array(name, inputs, work, seed, seconds, traced, inject, out) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t00 = System.nanoTime()
    val report = new Report
    val trace = new Trace(traced == "1")
    val ctx = Ctx(Paths.get(inputs), Paths.get(work), seed.toLong, inject, trace, report)
    val w: Workload = name match {
      case "query_mix" => new QueryMix(ctx)
      case "layout_rw" => new LayoutRw(ctx)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder("perfbench", Some(s"local[$cores]"), cores)
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    w.prepare(spark)
    val setupEndMs = System.currentTimeMillis()
    val tSetup = System.nanoTime()
    trace.attach(spark)
    report.put("setup_s", (setupEndMs - jvmStartMs) / 1000.0, "s")
    report.put("setup.jvm_boot_ms", (setupEndMs - jvmStartMs) - (tSetup - t00) / 1e6, "ms")
    report.put("setup.session_ms", (t1 - t00) / 1e6, "ms")
    report.put("setup.warm_ms", (tSetup - t1) / 1e6, "ms")
    report.put("setup.first_op_ms", w.warm(spark), "ms")
    quiesce()
    val tWarm = System.nanoTime()

    // Whole periods only: a round starts while the period is unfinished
    // or half a median round still fits before the deadline. A traced
    // run traces its first period throughout, for the per-layer
    // metrics; the periods after it are paired, for the overhead, and
    // there are at least two of them.
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Seq[(String, Double)])]
    val minRounds = (if (trace.enabled) 3 else 1) * w.period
    val start = System.nanoTime()
    def elapsedMs = (System.nanoTime() - start) / 1e6
    def roundMs = Stats.median(rounds.map(_._2.map(_._2).sum).toSeq)
    while (rounds.size < minRounds || rounds.size % w.period != 0 ||
        elapsedMs + roundMs / 2 < seconds.toDouble * 1000) {
      val period = rounds.size / w.period
      val on = trace.enabled && period == 0
      trace.startRound(on, if (period > 0) Some((s"${rounds.size % w.period}", period % 2)) else None)
      rounds += ((on, w.round(spark)))
    }
    val tTimed = System.nanoTime()
    trace.startRound(trace.enabled)
    w.finish(spark)
    report.put("run.setup_ms", (tSetup - t00) / 1e6, "ms")
    report.put("run.warm_ms", (tWarm - tSetup) / 1e6, "ms")
    report.put("run.timed_ms", (tTimed - tWarm) / 1e6, "ms")
    report.put("run.finish_ms", (System.nanoTime() - tTimed) / 1e6, "ms")

    // round_s is a typical round: each op kind's median latency times
    // the times it runs per round, summed (so the fold of every third
    // layout cycle counts a third). A plain median of round sums flipped
    // between the cold first layout cycle and a warm one.
    if (!trace.enabled) {
      val byKind = rounds.flatMap(_._2).groupBy(_._1).values
      report.put("round_s", byKind.map(v => Stats.median(v.map(_._2).toSeq) * v.size / rounds.size).sum / 1000,
        "s", rounds.size)
    } else {
      trace.drain()
      val (overhead, keys) = trace.pairedOverhead
      report.put("trace.overhead_ms", overhead, "ms", keys)
      Layers.report(trace, report, rounds.count(_._1))
      trace.write(ctx.work.resolve("spans.jsonl"))
    }
    report.put("heap_live_mb", liveHeapBytes() / 1048576.0, "MB")
    Files.write(Paths.get(out), report.json.getBytes("UTF-8"))
    spark.stop()
  }

  /** Start every timed window from the same state: the JIT compiler's
    * queue drained (up to 5 s) and the warm-up's garbage collected.
    */
  private def quiesce(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    var last = -1L
    var i = 0
    while (i < 25 && jit.getTotalCompilationTime != last) {
      last = jit.getTotalCompilationTime
      Thread.sleep(200)
      i += 1
    }
    System.gc()
  }

  /** Heap in use after full collections, once it stops shrinking: the
    * first collection only enqueues the weak references through which
    * Spark's ContextCleaner drops shuffle, broadcast and RDD blocks, so
    * the cleaner gets time to run before the next one.
    */
  private def liveHeapBytes(): Long = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = prev
    var i = 0
    while (i == 0 || (i < 8 && math.abs(prev - cur) > (1L << 20))) {
      Thread.sleep(100)
      prev = cur
      cur = used()
      i += 1
    }
    cur
  }
}

/** Per-layer metrics every workload has: Spark execution and Catalyst,
  * per traced round. Probe ops, which run only to measure a layer (the
  * job's prefixes, the layout's log read), are left out.
  */
object Layers {
  val Probe = "probe."

  def report(trace: Trace, r: Report, tracedRounds: Int): Unit = {
    val roots = trace.roots.filterNot(_.name.startsWith(Probe))
    val n = math.max(1, tracedRounds).toDouble
    val w = new Trace.Acc
    roots.foreach(s => w.add(trace.work(s)))
    r.put("spark.jobs", w.jobs / n, "count", tracedRounds)
    r.put("spark.tasks", w.tasks / n, "count", tracedRounds)
    r.put("spark.exec_run_ms", w.runMs / n, "ms", tracedRounds)
    r.put("spark.exec_cpu_ms", w.cpuMs / n, "ms", tracedRounds)
    r.put("spark.gc_ms", w.gcMs / n, "ms", tracedRounds)
    r.put("spark.shuffle_bytes", (w.shuffleWrite + w.shuffleRead) / n, "bytes", tracedRounds)
    r.put("spark.spill_bytes", w.spill / n, "bytes", tracedRounds)
    r.put("spark.input_bytes", w.inputBytes / n, "bytes", tracedRounds)
    r.put("spark.driver_gap_ms", roots.map(trace.driverGapMs).sum / n, "ms", tracedRounds)
    val ph = roots.flatMap(trace.planPhases(_).toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    r.put("catalyst.analysis_ms", ph.getOrElse("analysis", 0.0) / n, "ms", tracedRounds)
    r.put("catalyst.optimizer_ms", ph.getOrElse("optimization", 0.0) / n, "ms", tracedRounds)
    r.put("catalyst.planning_ms", ph.getOrElse("planning", 0.0) / n, "ms", tracedRounds)
    r.put("trace.spans", trace.spanCount / n, "count", tracedRounds)
  }
}

object Util {
  /** Compute every row and column of `df` and discard them. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
  }
}
