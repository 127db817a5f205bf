package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.{InvertedIndex, LetterSink, ReferenceJob}
import graft.sources.ManifestSource

/** The paper's own query, one op of the query mix: manifest ->
  * tokenize -> inverted index -> 26 letter files, through
  * `ReferenceJob.run`. Each op writes a fresh output directory, and its
  * 26 files are compared byte for byte with [[InvIdx.oracle]].
  *
  * A traced run also times prefixes of the job with a noop write
  * (`lines`, then `words`, then `fromLines`); each layer's self time is
  * its prefix's median minus the previous prefix's median, and the
  * sink's is the full job's minus the `fromLines` prefix.
  */
final class InvIdx(ctx: Ctx) {
  import InvIdx.JobSpan

  private val manifest = ctx.inputs.resolve("corpus/manifest.txt").toString
  private val jobMs = mutable.ArrayBuffer.empty[Double]
  private val prefixMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val jobs = new java.util.concurrent.atomic.AtomicInteger()
  private lazy val oracle = Future(InvIdx.oracle(Paths.get(manifest)))(ExecutionContext.global)
  private def expected = Await.result(oracle, Duration.Inf)._1
  private def oracleStats = Await.result(oracle, Duration.Inf)._2

  /** Compute the oracle in the background. Called once the timed set-up
    * is over, so it runs next to the untimed check pass.
    */
  def startOracle(): Unit = { oracle; () }

  def prepare(spark: SparkSession): Unit =
    ManifestSource.lines(spark, ManifestSource.read(manifest))

  /** One full job, checked; returns its ms. */
  def job(spark: SparkSession, span: String = JobSpan): Double = {
    val k = jobs.incrementAndGet()
    val out = ctx.work.resolve(s"invidx-out-$k")
    val (_, ms) = ctx.trace.op(span) {
      if (!ctx.trace.on) ReferenceJob.run(spark, manifest, out.toString)
      else {
        // The same four calls ReferenceJob.run makes, one span each.
        val m = ctx.trace.span("ManifestSource.read")(ManifestSource.read(manifest))
        val lines = ctx.trace.span("ManifestSource.lines")(ManifestSource.lines(spark, m))
        val index = ctx.trace.span("InvertedIndex.fromLines")(
          InvertedIndex.fromLines(lines, "file_id", "line"))
        ctx.trace.span("LetterSink.write")(LetterSink.write(index, out.toString))
      }
    }
    if (ctx.inject == "flip_letter_byte" && k == 1) InvIdx.flipOneByte(out)
    ctx.report.outcome(InvIdx.matches(out, expected), s"invidx job $k: letter files differ from the oracle")
    Util.deleteTree(out)
    ms
  }

  /** A timed op of the mix: the job. */
  def timed(spark: SparkSession): Double = {
    val ms = job(spark)
    jobMs += ms
    ms
  }

  /** [[InvIdx.ProbeReps]] rounds of the three prefixes and a full job,
    * for the layers' self times. A traced run makes them after its
    * timed rounds, so they warm up none of them.
    */
  private def probe(spark: SparkSession): Unit = (1 to InvIdx.ProbeReps).foreach { _ =>
    val m = ManifestSource.read(manifest)
    def prefix(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val (_, ms) = ctx.trace.op(s"${Layers.Probe}invidx.$name")(Util.noop(df))
      prefixMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    }
    prefix("lines")(ManifestSource.lines(spark, m))
    prefix("words")(InvertedIndex.words(ManifestSource.lines(spark, m), "file_id", "line"))
    prefix("fromLines")(InvertedIndex.fromLines(ManifestSource.lines(spark, m), "file_id", "line"))
    job(spark, Layers.Probe + JobSpan)
  }

  def finish(spark: SparkSession): Unit = {
    val r = ctx.report
    val sec = jobMs.map(_ / 1000)
    r.timing("invidx.job_s", sec.toSeq, "s")
    r.timing("invidx.mtok_per_s", sec.map(s => oracleStats.rawTokens / s / 1e6).toSeq, "Mtok/s")
    r.put("invidx.corpus_tokens", oracleStats.rawTokens.toDouble, "count")
    if (ctx.trace.enabled) {
      probe(spark)
      ctx.trace.drain()
      val jobsSpans = ctx.trace.spansNamed(JobSpan) ++ ctx.trace.spansNamed(Layers.Probe + JobSpan)
      def childMs(name: String) = Stats.median(jobsSpans.flatMap(s =>
        ctx.trace.subtree(s).filter(_.name == name).map(_.durMs)))
      r.put("invidx.manifest_read_ms", childMs("ManifestSource.read"), "ms", jobsSpans.size)
      r.put("invidx.lines_plan_ms", childMs("ManifestSource.lines"), "ms", jobsSpans.size)
      val p = prefixMs.map { case (k, v) => k -> Stats.median(v.toSeq) }
      val job = Stats.median(jobsSpans.map(_.durMs))
      r.put("invidx.tokenize_self_ms", p("words") - p("lines"), "ms", prefixMs("words").size)
      r.put("invidx.index_self_ms", p("fromLines") - p("words"), "ms", prefixMs("fromLines").size)
      r.put("invidx.sink_self_ms", job - p("fromLines"), "ms", jobsSpans.size)
      r.put("invidx.scan_self_ms", p("lines"), "ms", prefixMs("lines").size)
      val sink = jobsSpans.map(s => ctx.trace.work(ctx.trace.subtree(s).find(_.name == "LetterSink.write").get))
      r.put("invidx.shuffle_write_bytes", Stats.median(sink.map(_.shuffleWrite.toDouble)), "bytes", sink.size)
      r.put("invidx.shuffle_records", Stats.median(sink.map(_.shuffleRecords.toDouble)), "count", sink.size)
      r.put("invidx.spill_bytes", Stats.median(sink.map(_.spill.toDouble)), "bytes", sink.size)
      r.put("invidx.input_bytes", oracleStats.inputBytes.toDouble, "bytes")
      r.put("invidx.tokens", oracleStats.tokens.toDouble, "count")
      r.put("invidx.distinct_words", oracleStats.words.toDouble, "count")
      r.put("invidx.postings", oracleStats.postings.toDouble, "count")
      r.put("invidx.output_bytes", expected.values.map(_.length.toLong).sum.toDouble, "bytes")
      // The 26-letter stage is the sink job's stage with the most tasks.
      val skews = jobsSpans.flatMap { s =>
        val st = ctx.trace.stageTasks(s)
        if (st.isEmpty) None
        else {
          val ts = st.maxBy(_.size).map(_.toDouble)
          Some(ts.max / math.max(1.0, Stats.median(ts)))
        }
      }
      if (skews.nonEmpty) r.put("invidx.sink_skew", Stats.median(skews), "ratio", skews.size)
    }
  }
}

object InvIdx {
  /** Prefix-and-job repetitions per traced op: self times are
    * differences of medians, and one sample each is mostly noise.
    */
  val ProbeReps = 3
  val JobSpan = "invidx.job"

  final case class OracleStats(rawTokens: Long, tokens: Long, words: Long, postings: Long, inputBytes: Long)

  /** A plain-Scala port of the reference `main.cpp`: whitespace tokens,
    * ASCII letters kept and lowercased, empties dropped, a
    * `map<string, set<int>>` of 1-based manifest ids, each letter's
    * words sorted by (set size desc, word asc), and all 26 files
    * rendered, empty ones included.
    */
  def oracle(manifest: Path): (Map[Char, Array[Byte]], OracleStats) = {
    val lines = Files.readAllLines(manifest).asScala
    val n = lines.head.trim.toInt
    val index = mutable.HashMap.empty[String, mutable.SortedSet[Int]]
    var raw, toks, bytes = 0L
    lines.slice(1, 1 + n).zipWithIndex.foreach { case (rel, i) =>
      val f = manifest.getParent.resolve(rel.trim)
      val body = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      bytes += Files.size(f)
      body.split("[ \t\n\u000b\f\r]+").foreach { t =>
        if (t.nonEmpty) {
          raw += 1
          val w = t.filter(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')).toLowerCase
          if (w.nonEmpty) {
            toks += 1
            index.getOrElseUpdate(w, mutable.SortedSet.empty[Int]) += (i + 1)
          }
        }
      }
    }
    val byLetter = index.toSeq.groupBy(_._1.head)
    val files = ('a' to 'z').map { c =>
      val sb = new StringBuilder
      byLetter.getOrElse(c, Nil)
        .sortBy { case (w, ids) => (-ids.size, w) }
        .foreach { case (w, ids) => sb ++= w ++= ":[" ++= ids.mkString(" ") ++= "]\n" }
      c -> sb.toString.getBytes(StandardCharsets.UTF_8)
    }.toMap
    (files, OracleStats(raw, toks, index.size.toLong, index.values.map(_.size.toLong).sum, bytes))
  }

  /** All 26 files present and byte-identical to the oracle's. */
  def matches(out: Path, expected: Map[Char, Array[Byte]]): Boolean =
    expected.forall { case (c, want) =>
      val f = out.resolve(s"$c.txt")
      Files.isRegularFile(f) && java.util.Arrays.equals(Files.readAllBytes(f), want)
    }

  /** Corrupt one byte of the first non-empty letter file: the self-test
    * that the byte check fires.
    */
  def flipOneByte(out: Path): Unit = {
    val f = ('a' to 'z').map(c => out.resolve(s"$c.txt")).find(Files.size(_) > 0).get
    val b = Files.readAllBytes(f)
    b(0) = (b(0) ^ 1).toByte
    Files.write(f, b)
  }
}
