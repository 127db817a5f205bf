package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
  * work each span caused.
  *
  * A span records name, start, end and parent; the spans of one op
  * share the op's id. Jobs are attached to the innermost open span
  * through a local property the benchmark sets on the SparkContext (a
  * job inherits the submitting thread's properties), and task metrics
  * roll up through stage -> job -> span. Catalyst phase times come from
  * each query's `QueryPlanningTracker` and are attached to the span
  * whose interval holds them. Streaming micro-batches come from the
  * public `StreamingQueryProgress`. Everything stays in memory until
  * [[write]]. A disabled trace runs the bodies bare: untraced runs pay
  * nothing.
  *
  * For the tracing overhead, a round can be paired: tracing then
  * switches per op, by the op's key (its name and place in the period),
  * and the parity flips between paired periods, so each key runs once
  * traced and once not. Paired ops are left out of the per-layer spans.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextOp = 0
  private var sc: org.apache.spark.SparkContext = _
  private var session: SparkSession = _

  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private var active = false
  @volatile private var paired = false
  private var parity = 0
  private var keyPrefix = ""
  private val pairIds = mutable.Map.empty[String, Int]
  private val pairedOps = mutable.Set.empty[Int]
  /** (op key, traced, ms) of each op of the paired rounds. */
  private val pairSamples = mutable.ArrayBuffer.empty[(String, Boolean, Double)]

  /** Spans and listeners are live: the run is traced and so is the
    * current op.
    */
  def on: Boolean = enabled && active

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    session = spark
  }

  /** Turn tracing on or off between ops, listeners included, so the
    * untraced ops of a traced run pay nothing.
    */
  private def setActive(b: Boolean): Unit = if (enabled && b != active) {
    drain()
    if (b) {
      sc.addSparkListener(jobListener)
      session.listenerManager.register(planListener)
      session.streams.addListener(streamListener)
    } else {
      sc.removeSparkListener(jobListener)
      session.listenerManager.unregister(planListener)
      session.streams.removeListener(streamListener)
    }
    active = b
  }

  /** Start a round: traced throughout or not, or paired when `pair`
    * gives its key prefix and parity.
    */
  def startRound(traced: Boolean, pair: Option[(String, Int)] = None): Unit = if (enabled) {
    drain()
    setActive(traced)
    paired = pair.isDefined
    pair.foreach { case (k, p) => keyPrefix = k; parity = p }
  }

  /** A root span: one op. Returns the body's value and its wall ms. */
  def op[T](name: String)(body: => T): (T, Double) = {
    val key = s"$keyPrefix/$name"
    val pairing = paired && !name.startsWith(Layers.Probe)
    if (pairing) setActive((pairIds.getOrElseUpdate(key, pairIds.size) + parity) % 2 == 0)
    nextOp += 1
    if (pairing && on) pairedOps += nextOp
    val t0 = System.nanoTime()
    val v = span(name)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (pairing) pairSamples += ((key, on, ms))
    (v, ms)
  }

  /** Median over op keys of traced minus untraced ms, and the keys. */
  def pairedOverhead: (Double, Int) = {
    val diffs = pairSamples.groupBy(_._1).values.flatMap { xs =>
      val (t, u) = xs.partition(_._2)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_._3).toSeq) - Stats.median(u.map(_._3).toSeq))
    }.toSeq
    (Stats.median(diffs), diffs.size)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), nextOp, name,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  private def kept: Seq[Span] = spans.filterNot(s => pairedOps(s.op)).toSeq

  def spansNamed(name: String): Seq[Span] = kept.filter(_.name == name)

  def roots: Seq[Span] = kept.filter(_.parent == -1)

  def spanCount: Int = kept.size

  /** Every span under `root` (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  /** Spark work caused inside `root`'s subtree. */
  def work(root: Span): Acc = {
    val ids = subtree(root).map(_.id).toSet
    val a = new Acc
    ids.foreach(i => Option(accs.get(i)).foreach(a.add))
    a
  }

  /** Wall ms of `root` not covered by any of its jobs. */
  def driverGapMs(root: Span): Double = {
    val ids = subtree(root).map(_.id).toSet
    val iv = jobSpan.asScala.collect {
      case (j, s) if ids(s.intValue) && jobTimes.containsKey(j) => jobTimes.get(j)
    }.map(a => (math.max(a(0), root.startMs), math.min(a(1), root.endMs)))
      .filter(p => p._2 > p._1).toSeq.sortBy(_._1)
    var covered = 0L
    var cur = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { covered += math.max(0L, cur._2 - cur._1); cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    covered += math.max(0L, cur._2 - cur._1)
    math.max(0.0, root.durMs - covered)
  }

  /** Catalyst phase ms (analysis, optimization, planning) of the
    * queries that ran inside `root`.
    */
  def planPhases(root: Span): Map[String, Double] = {
    phases.asScala.filter { case (s, e, _) => s >= root.startMs && e <= root.endMs }
      .toSeq.groupBy(_._3).map { case (k, v) => k -> v.map(p => (p._2 - p._1).toDouble).sum }
  }

  /** Task durations of each stage the subtree ran, by stage id. */
  def stageTasks(root: Span): Seq[Seq[Long]] = {
    val ids = subtree(root).map(_.id).toSet
    stageTaskMs.asScala.collect {
      case (st, ts) if Option(stageJob.get(st)).flatMap(j => Option(jobSpan.get(j)))
          .exists(s => ids(s.intValue)) => ts.toSeq
    }.toSeq
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val body = spans.map { s =>
      val jobs = jobSpan.asScala.collect { case (j, i) if i.intValue == s.id => j }.toSeq.sorted
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${Json.num(s.durMs)},""" +
        s""""jobs":[${jobs.mkString(",")}]}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }

  private def accOf(stage: Int): Option[Acc] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobSpan.get(j)))
      .map(s => accs.computeIfAbsent(s.intValue, _ => new Acc))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
        jobSpan.put(e.jobId, s.toInt)
        e.stageIds.foreach(st => stageJob.put(st, e.jobId))
        val a = accs.computeIfAbsent(s.toInt, _ => new Acc)
        a.synchronized { a.jobs += 1 }
      }
      jobTimes.put(e.jobId, Array(e.time, Long.MaxValue))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTimes.get(e.jobId)).foreach(_(1) = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) accOf(e.stageId).foreach { a =>
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
        }
        val ts = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        ts.synchronized { ts += e.taskInfo.duration }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.sparkSession eq session) qe.tracker.phases.foreach { case (k, p) =>
        phases.add((p.startTimeMs, p.endTimeMs, k))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      if (!paired) progress.add(Progress(e.progress.numInputRows, d))
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
    def durMs: Double = (endNs - startNs) / 1e6
  }

  final case class Progress(rows: Long, durationMs: Map[String, Double])

  /** Spark work attributed to one span. */
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0.0
    var cpuMs = 0.0
    var gcMs = 0.0
    var shuffleWrite = 0L
    var shuffleRecords = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRecords = 0L

    def add(o: Acc): Unit = o.synchronized {
      jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRecords += o.shuffleRecords
      shuffleRead += o.shuffleRead; spill += o.spill
      inputBytes += o.inputBytes; inputRecords += o.inputRecords
    }
  }
}
