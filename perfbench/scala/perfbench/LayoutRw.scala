package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VersionedLayout

/** One VersionedLayout table under a seeded read/write loop. Each cycle
  * commits an insert, an upsert and a delete-by-keys, then runs a head
  * aggregate, an as-of point read at a random past version and a change
  * feed read over the recent versions, then drains one `graft-layout`
  * streaming subscriber (started once per run). Every third cycle ends
  * with `majorCompact` and then `checkpoint`: the fold cadence is part
  * of the workload, because read and commit latency grow with the number
  * of versions since the last fold.
  *
  * Every answer is checked against [[Model]], which is computed from the
  * op inputs alone. At the end the subscriber's folded changes must
  * equal the batch `changeFeed` over the whole history.
  */
final class LayoutRw(ctx: Ctx) extends Workload {
  import LayoutRw._

  private val rng = new scala.util.Random(ctx.seed)
  private var dir: String = _
  private var model: Model = _
  private var uppers: Array[Long] = _
  private var nextKey = 0L
  private var cycles = 0
  private var sinceFold = 0
  private var storage: Option[Map[String, (Double, String)]] = None
  private var userBytes = 0L
  private var baseBytes = 0L
  private val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val baseWriteMs = mutable.ArrayBuffer.empty[Double]
  private val headReadVsVersions = mutable.ArrayBuffer.empty[(Double, Double)]
  private val filesPerRead = mutable.ArrayBuffer.empty[Double]
  private val logMs = mutable.ArrayBuffer.empty[Double]
  private var sub: Subscriber = _

  /** Three cycles reach a fold. */
  def period: Int = FoldEvery

  private def baseFrame(spark: SparkSession): DataFrame =
    spark.read.parquet(ctx.inputs.resolve("tables/lineitem.parquet").toString)
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** The base write: 16 pids by `v` range, skipping stats on `v`, a
    * Bloom filter on `l_orderkey`.
    */
  def prepare(spark: SparkSession): Unit = {
    dir = ctx.work.resolve("layout").toString
    val base = baseFrame(spark)
    uppers = base.stat.approxQuantile("v", (1 until Pids).map(_.toDouble / Pids).toArray, 0.0)
      .map(_.toLong)
    val upLit = array(uppers.map(lit).toSeq: _*)
    val t0 = System.nanoTime()
    VersionedLayout.writeBaseTable(spark,
      base.withColumn("pid", size(filter(upLit, u => u < col("v"))) + 1),
      dir, Seq("l_orderkey", "l_linenumber"), statsCol = Some("v"), bloomCols = Seq("l_orderkey"))
    baseWriteMs += (System.nanoTime() - t0) / 1e6
  }

  private def pidOf(v: Long): Int = uppers.count(_ < v) + 1

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val (v, ms) = ctx.trace.op(s"layout.$name")(body)
    lat.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    (v, ms)
  }

  private def commit(name: String)(body: => Int): Double = {
    val (ver, ms) = timed(name)(body)
    sub.committed(ver)
    ms
  }

  private def check(ok: Boolean, what: => String): Unit = ctx.report.outcome(ok, what)

  /** Build the model and start the subscriber; returns the start's ms. */
  def warm(spark: SparkSession): Double = {
    val rows = baseFrame(spark).collect()
    model = new Model(rows.map(r => (r.getLong(1), r.getInt(2)) -> ((r.getLong(0), centi(r.getDouble(3))))))
    nextKey = rows.map(_.getLong(1)).max + 1
    baseBytes = Util.treeBytes(dir)
    val t0 = System.nanoTime()
    sub = new Subscriber(spark, dir, ctx.work.resolve("feed-chk").toString)
    sub.drain()
    (System.nanoTime() - t0) / 1e6
  }

  /** One cycle. */
  def round(spark: SparkSession): Seq[(String, Double)] = {
    import spark.implicits._
    cycles += 1
    val n = model.rows
    // Insert: fresh order keys.
    val ins = (0 until math.max(4, (n / InsertDiv).toInt)).map { i =>
      val v = 90000L + rng.nextInt(10000000)
      (v, nextKey + i / 4, i % 4 + 1, (1 + rng.nextInt(50)).toDouble, pidOf(v))
    }
    nextKey += ins.size / 4 + 1
    val insMs = commit("insert") {
      VersionedLayout.appendInsert(spark, dir,
        ins.toDF("v", "l_orderkey", "l_linenumber", "l_quantity", "pid"))
    }
    model.commit(inserted = ins.map(r => (r._2, r._3) -> ((r._1, centi(r._4)))), deleted = Nil,
      skip = ctx.inject == "skip_model_update" && cycles == 2)
    userBytes += ins.size * RowBytes
    // Upsert: every live line of a few orders gets one more unit.
    val orders = model.sampleOrders(rng, math.max(1, (n / UpsertDiv / 4).toInt))
    val hit = model.linesOf(orders)
    val upsMs = commit("upsert") {
      VersionedLayout.appendUpsert(spark, dir, col("l_orderkey").isin(orders: _*),
        _.withColumn("l_quantity", col("l_quantity") + 1))
    }
    model.commit(inserted = hit.map { case (k, (v, q)) => k -> ((v, q + 100)) }, deleted = hit.map(_._1))
    userBytes += hit.size * RowBytes
    // Delete by keys: random live lines.
    val gone = model.sampleLines(rng, math.max(1, (n / DeleteDiv).toInt))
    val delMs = commit("delete") {
      VersionedLayout.appendDeleteKeys(spark, dir, gone.toDF("l_orderkey", "l_linenumber"))
    }
    model.commit(inserted = Nil, deleted = gone)
    userBytes += gone.size * RowBytes
    val head = model.head
    sinceFold += 3
    // Head aggregate.
    val (agg, headMs) = timed("head_read") {
      val df = ctx.trace.span("readAsOf")(VersionedLayout.readAsOf(spark, dir, head))
      ctx.trace.span("collect")(aggregate(df))
    }
    check(agg == model.at(head), s"head read v$head: $agg != ${model.at(head)}")
    headReadVsVersions += ((sinceFold.toDouble, headMs))
    // As-of point read.
    val past = rng.nextInt(head)
    val key = model.pickKey(rng)
    val (pts, ptMs) = timed("point_read") {
      val df = ctx.trace.span("readAsOfPoint")(
        VersionedLayout.readAsOfPoint(spark, dir, past, "l_orderkey", key))
      ctx.trace.span("collect")(df.select(col("l_linenumber"), col("v"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    }
    check(pts == model.orderAt(key, past), s"point read order $key at v$past: $pts != ${model.orderAt(key, past)}")
    // Change feed over the three commits of this cycle.
    val (feed, feedMs) = timed("feed_read") {
      val df = ctx.trace.span("changeFeed")(VersionedLayout.changeFeed(spark, dir, head - 3, head))
      ctx.trace.span("collect")(feedMasses(df))
    }
    check(feed == model.changes(head - 3, head), s"feed read (${head - 3}, $head]")
    val (_, drainMs) = timed("drain")(sub.drain())
    val fold = if (cycles % FoldEvery != 0) Nil else {
      val (_, foldMs) = timed("fold")(VersionedLayout.majorCompact(spark, dir))
      model.commit(Nil, Nil)
      val (_, ckMs) = timed("checkpoint")(VersionedLayout.checkpoint(dir))
      sinceFold = 0
      if (storage.isEmpty) storage = Some(measureStorage(spark))
      Seq("fold" -> foldMs, "checkpoint" -> ckMs)
    }
    // Untimed probes, made in every round so that traced and untraced
    // rounds do the same work.
    logMs += ctx.trace.op(s"${Layers.Probe}layout.log")(VersionedLayout.log(dir))._2
    filesPerRead += VersionedLayout.readAsOf(spark, dir, model.head).inputFiles.length.toDouble
    Seq("insert" -> insMs, "upsert" -> upsMs, "delete" -> delMs,
      "head_read" -> headMs, "point_read" -> ptMs, "feed_read" -> feedMs, "drain" -> drainMs) ++ fold
  }

  /** Storage metrics, taken once, right after the first fold and
    * checkpoint: a fixed point of the op schedule.
    */
  private def measureStorage(spark: SparkSession): Map[String, (Double, String)] = {
    val snap = ctx.work.resolve("head-snapshot")
    VersionedLayout.readAsOf(spark, dir, model.head).write.parquet(snap.toString)
    val headBytes = Util.treeBytes(snap.toString)
    Util.deleteTree(snap)
    val bytes = Util.treeBytes(dir)
    val logDir = new java.io.File(dir, "_log")
    Map(
      "layout.space_amp" -> (bytes.toDouble / headBytes, "ratio"),
      "layout.bytes_written_per_user_byte" -> ((bytes - baseBytes).toDouble / userBytes, "ratio"),
      "layout.dir_files" -> (Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(Files.isRegularFile(_)).toDouble, "count"),
      "layout.log_entries" -> (Option(logDir.listFiles()).map(_.length).getOrElse(0).toDouble, "count"))
  }

  def finish(spark: SparkSession): Unit = {
    val r = ctx.report
    val streamed = sub.stop()
    val batch = feedMasses(VersionedLayout.changeFeed(spark, dir, 0, model.head))
    check(streamed == batch, "stream subscriber's folded changes differ from the batch changeFeed")
    check(batch == model.changes(0, model.head), "batch changeFeed differs from the model")
    val commits = Seq("insert", "upsert", "delete").flatMap(lat.getOrElse(_, Nil))
    val reads = Seq("head_read", "point_read", "feed_read").flatMap(lat.getOrElse(_, Nil))
    r.timing("layout.commit_p50_ms", commits, "ms")
    r.timing("layout.read_p50_ms", reads, "ms")
    r.timing("layout.feed_lag_p50_ms", sub.lagsMs, "ms")
    r.timing("layout.fold_p50_ms", lat.getOrElse("fold", Nil).toSeq, "ms")
    val all = (commits ++ reads ++ Seq("drain", "fold", "checkpoint").flatMap(lat.getOrElse(_, Nil))).toSeq
    r.put("layout.ops_per_s", all.size / (all.sum / 1000), "1/s", all.size)
    r.timing("setup.base_write_ms", baseWriteMs.toSeq, "ms")
    storage.foreach(_.get("layout.space_amp").foreach { case (v, u) => r.put("layout.space_amp", v, u) })
    Seq("insert", "upsert", "delete", "head_read", "point_read", "feed_read", "drain", "checkpoint")
      .foreach(k => r.timing(s"layout.${k}_ms", lat.getOrElse(k, Nil).toSeq, "ms"))
    if (ctx.trace.enabled) {
      storage.foreach(_.foreach { case (k, (v, u)) => if (k != "layout.space_amp") r.put(k, v, u) })
      r.timing("layout.log_ms", logMs.toSeq, "ms")
      val heads = ctx.trace.spansNamed("layout.head_read")
      def child(s: Trace.Span, n: String) = ctx.trace.subtree(s).find(_.name == n).get
      r.timing("layout.read_plan_ms", heads.map(child(_, "readAsOf").durMs), "ms")
      r.timing("layout.read_exec_ms", heads.map(child(_, "collect").durMs), "ms")
      r.timing("layout.files_per_read", filesPerRead.toSeq, "count")
      val pts = ctx.trace.spansNamed("layout.point_read").map(ctx.trace.work(_).inputRecords.toDouble)
      r.timing("layout.rows_read_per_row", pts.map(_ / math.max(1.0, model.meanLinesPerOrder)), "ratio")
      r.put("layout.read_ms_per_version", Stats.slope(headReadVsVersions.toSeq), "ms", headReadVsVersions.size)
      val prog = ctx.trace.progress.asScala.toSeq
      r.put("layout.feed.batches", prog.size.toDouble, "count")
      r.put("layout.feed.rows", prog.map(_.rows.toDouble).sum, "count")
      // A v1 Source reports its offset poll as getOffset.
      Seq(Seq("triggerExecution") -> "trigger_ms", Seq("addBatch") -> "add_batch_ms",
        Seq("walCommit") -> "wal_ms", Seq("latestOffset", "getOffset") -> "latest_offset_ms")
        .foreach { case (ks, n) =>
          r.timing(s"layout.feed.$n", prog.flatMap(p => ks.flatMap(p.durationMs.get).headOption), "ms")
        }
    }
  }
}

object LayoutRw {
  val Pids = 16
  val FoldEvery = 3
  // Rows per op as a share of the live table: 1/375 inserted, 1/1500
  // upserted, 1/1500 deleted (1.6 k / 0.4 k / 0.4 k at 600 k rows).
  val InsertDiv = 375L
  val UpsertDiv = 1500L
  val DeleteDiv = 1500L
  // Raw column bytes of one row: v, l_orderkey, l_quantity (8 each),
  // l_linenumber and pid (4 each).
  val RowBytes = 32L

  type Key = (Long, Int)
  /** (rows, sum of v, sum of centi-quantity) */
  type Mass = (Long, Long, Long)

  def centi(q: Double): Long = math.round(q * 100)

  def aggregate(df: DataFrame): Mass = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)),
      coalesce(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")), lit(0L))).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** (version, change_type) -> mass, over a change-feed frame. */
  def feedMasses(df: DataFrame): Map[(Int, String), Mass] =
    df.groupBy(col("change_version").cast("int"), col("change_type"))
      .agg(count(lit(1)), sum(col("v")), sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  /** What every version of the table must hold, from the op inputs. */
  final class Model(base: Seq[(Key, (Long, Long))]) {
    private val live = mutable.HashMap.from(base)
    private val orders = mutable.HashMap.empty[Long, mutable.Set[Int]]
    base.foreach { case ((o, l), _) => orders.getOrElseUpdate(o, mutable.Set.empty) += l }
    private val baseOrder: Map[Long, Seq[(Int, Long, Long)]] =
      base.groupBy(_._1._1).map { case (o, rs) => o -> rs.map { case ((_, l), (v, q)) => (l, v, q) }.sorted }
    private val touched = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Int, Seq[(Int, Long, Long)])]]
    private val masses = mutable.ArrayBuffer[Mass]((base.size.toLong, base.map(_._2._1).sum, base.map(_._2._2).sum))
    private val feed = mutable.Map.empty[(Int, String), Mass]
    private var cur = masses.head

    def head: Int = masses.size - 1
    def rows: Long = cur._1
    def at(v: Int): Mass = masses(v)
    def meanLinesPerOrder: Double = live.size.toDouble / math.max(1, orders.size)

    /** Record one committed version. `skip` leaves the model untouched,
      * as a self-test that the checks notice a missed update.
      */
    def commit(inserted: Seq[(Key, (Long, Long))], deleted: Seq[Key], skip: Boolean = false): Unit = {
      val ver = masses.size
      if (!skip) {
        val del = deleted.map(k => k -> live(k))
        def mass(rs: Seq[(Key, (Long, Long))]): Mass = (rs.size.toLong, rs.map(_._2._1).sum, rs.map(_._2._2).sum)
        if (del.nonEmpty) feed((ver, "delete")) = mass(del)
        if (inserted.nonEmpty) feed((ver, "insert")) = mass(inserted)
        del.foreach { case (k, _) => live.remove(k); orders.get(k._1).foreach(_ -= k._2) }
        inserted.foreach { case (k, x) => live(k) = x; orders.getOrElseUpdate(k._1, mutable.Set.empty) += k._2 }
        val dm = mass(del)
        val im = mass(inserted)
        cur = (cur._1 - dm._1 + im._1, cur._2 - dm._2 + im._2, cur._3 - dm._3 + im._3)
        (del.map(_._1._1) ++ inserted.map(_._1._1)).distinct.foreach { o =>
          touched.getOrElseUpdate(o, mutable.ArrayBuffer.empty) += ((ver, orderNow(o)))
        }
      }
      masses += cur
    }

    private def orderNow(o: Long): Seq[(Int, Long, Long)] =
      orders.getOrElse(o, Nil).toSeq.map(l => (l, live((o, l))._1, live((o, l))._2)).sorted

    /** The lines of order `o` as of version `v`. */
    def orderAt(o: Long, v: Int): Seq[(Int, Long, Long)] =
      touched.get(o).flatMap(_.filter(_._1 <= v).lastOption).map(_._2)
        .getOrElse(baseOrder.getOrElse(o, Nil))

    def changes(from: Int, to: Int): Map[(Int, String), Mass] =
      feed.filter { case ((v, _), _) => v > from && v <= to }.toMap

    def linesOf(os: Seq[Long]): Seq[(Key, (Long, Long))] =
      os.flatMap(o => orders.getOrElse(o, Nil).map(l => (o, l) -> live((o, l))))

    private def liveOrders: IndexedSeq[Long] = orders.collect { case (o, ls) if ls.nonEmpty => o }.toIndexedSeq.sorted

    def sampleOrders(rng: scala.util.Random, k: Int): Seq[Long] = {
      val os = liveOrders
      Seq.fill(k)(os(rng.nextInt(os.size))).distinct
    }

    def sampleLines(rng: scala.util.Random, k: Int): Seq[Key] = {
      val ks = live.keys.toIndexedSeq.sorted
      Seq.fill(k)(ks(rng.nextInt(ks.size))).distinct
    }

    /** Half the time an order some op touched, else any base order. */
    def pickKey(rng: scala.util.Random): Long = {
      val t = touched.keys.toIndexedSeq.sorted
      if (t.nonEmpty && rng.nextBoolean()) t(rng.nextInt(t.size))
      else baseOrder.keys.toIndexedSeq.sorted.apply(rng.nextInt(baseOrder.size))
    }
  }

  /** The `graft-layout` streaming subscriber: folds each micro-batch to
    * per-(version, change type) masses and notes when each version was
    * delivered, for the commit-to-delivery lag.
    */
  final class Subscriber(spark: SparkSession, dir: String, chk: String) {
    private val masses = new java.util.concurrent.ConcurrentHashMap[(Int, String), Mass]()
    private val delivered = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private val committedAt = mutable.Map.empty[Int, Long]
    // A micro-batch holds a few commits' rows: fold them on the driver.
    private val sink: (DataFrame, Long) => Unit = (b, _) => {
      val m = b.select(col("change_version").cast("int"), col("change_type"), col("v"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)")).collect()
        .groupBy(r => (r.getInt(0), r.getString(1)))
        .map { case (k, rs) => k -> ((rs.length.toLong, rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).sum)) }
      val now = System.nanoTime()
      m.foreach { case (k, x) =>
        masses.merge(k, x, (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        delivered.putIfAbsent(k._1, now)
      }
    }
    private val query = spark.readStream.format("graft-layout").option("path", dir).load()
      .writeStream.foreachBatch(sink).option("checkpointLocation", chk).start()

    def committed(ver: Int): Unit = committedAt(ver) = System.nanoTime()
    def drain(): Unit = query.processAllAvailable()

    def lagsMs: Seq[Double] = committedAt.toSeq.flatMap { case (v, t) =>
      Option(delivered.get(v)).map(d => math.max(0L, d - t) / 1e6)
    }

    def stop(): Map[(Int, String), Mass] = {
      query.processAllAvailable()
      query.stop()
      masses.asScala.toMap
    }
  }
}
