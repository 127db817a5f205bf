package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Passes over the paper's inverted-index job ([[InvIdx]]) and twelve
  * read-only registry queries. One op is one query: the
  * `SparkEntry.queries(q)` call (which may run eager jobs) plus a noop
  * write of every row and column; or one full `ReferenceJob.run`. The
  * seed permutes the order of each pass. The first pass is untimed: it
  * writes each query result as parquet, which the runner compares with
  * the query's oracle SQL run in DuckDB over the same tables, and checks
  * the job's letter files against the job's oracle.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._

  private val dir = ctx.inputs.resolve("tables").toString
  private val rng = new scala.util.Random(ctx.seed)
  private val invidx = new InvIdx(ctx)
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val opMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def period: Int = 1

  def prepare(spark: SparkSession): Unit = {
    tables.foreach(t => Tables(spark, dir, t).schema)
    invidx.prepare(spark)
  }

  /** The check pass. Its ops run on a few threads at once: it is
    * untimed, and most of a cold op's time is single-threaded driver
    * work (class loading, planning, code generation).
    */
  def warm(spark: SparkSession): Double = {
    val out = ctx.work.resolve("check")
    val t0 = System.nanoTime()
    invidx.startOracle()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
    try {
      (pool.submit[Unit](() => { invidx.job(spark); () }) +: names.map { q =>
        pool.submit[Unit] { () =>
          val df = SparkEntry.queries(q)(spark, dir)
          df.write.mode("overwrite").parquet(out.resolve(q).toString)
        }
      }).foreach(_.get())
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e6
  }

  def round(spark: SparkSession): Seq[(String, Double)] = {
    val ops = rng.shuffle(Invidx +: names).map { q =>
      val ms =
        if (q == Invidx) invidx.timed(spark)
        else {
          val (err, ms) = ctx.trace.op(s"mix.$q") {
            try {
              val df = ctx.trace.span("build")(SparkEntry.queries(q)(spark, dir))
              ctx.trace.span("exec")(Util.noop(df))
              None
            } catch { case e: Exception => Some(s"$q: $e") }
          }
          ctx.report.outcome(err.isEmpty, err.getOrElse(""))
          ms
        }
      opMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
      q -> ms
    }
    passMs += ops.map(_._2).sum
    ops
  }

  def finish(spark: SparkSession): Unit = {
    val r = ctx.report
    r.timing("mix.pass_s", passMs.map(_ / 1000).toSeq, "s")
    val queries = opMs.filter(_._1 != Invidx)
    r.timing("mix.query_p50_ms", queries.values.flatten.toSeq, "ms")
    queries.foreach { case (q, v) => r.timing(s"mix.$q.ms", v.toSeq, "ms") }
    invidx.finish(spark)
    if (ctx.trace.enabled) {
      val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      names.foreach { q =>
        val spans = ctx.trace.spansNamed(s"mix.$q")
        def child(s: Trace.Span, n: String) = ctx.trace.subtree(s).find(_.name == n).get
        r.put(s"mix.$q.build_ms", Stats.median(spans.map(child(_, "build").durMs)), "ms", spans.size)
        r.put(s"mix.$q.exec_ms", Stats.median(spans.map(child(_, "exec").durMs)), "ms", spans.size)
        r.put(s"mix.$q.eager_jobs",
          Stats.median(spans.map(s => ctx.trace.work(child(s, "build")).jobs.toDouble)), "count", spans.size)
        r.put(s"mix.$q.shuffle_bytes", Stats.median(spans.map { s =>
          val w = ctx.trace.work(s); (w.shuffleWrite + w.shuffleRead).toDouble
        }), "bytes", spans.size)
        spans.foreach { s =>
          ctx.trace.planPhases(child(s, "exec")).foreach { case (k, v) =>
            phases.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
          }
        }
      }
      // Per pass: the phase totals of the twelve noop writes.
      val passes = math.max(1, ctx.trace.spansNamed(s"mix.${names.head}").size)
      Seq("analysis" -> "mix.analysis_ms", "optimization" -> "mix.optimizer_ms",
        "planning" -> "mix.planning_ms").foreach { case (k, name) =>
        r.put(name, phases.get(k).map(_.sum).getOrElse(0.0) / passes, "ms", passes)
      }
    }
  }
}

object QueryMix {
  val CheckThreads = 4
  val Invidx = "invidx"

  val names: Seq[String] = Seq(
    "q01_pricing_summary", "q03_top_revenue_orders", "q17_inverted_index",
    "q40_tfidf_top_terms", "q80_textrank", "q101_prefix_filter_join",
    "q85_simhash_neardup", "q93_span_dedup", "q73_lloyd_probe", "q46_curation",
    "q145_peak_concurrency", "q126_corr_matrix")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The oracle SQL of each query, as a JSON object. */
  def oracleJson: String =
    names.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
}
