package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VersionedLayout

/** Commit metadata of the layout's writing verbs, checked against
  * values computed independently of the commit path.
  *
  * Each verb records, from one metadata pass over what it landed: the
  * rows it wrote (`rowsW`), the rows its tombstones cover (`rowsD`) and
  * their pids (`tpids`), per-pid [min, max] of the stats columns
  * (`stats`, `statsM`), and a Bloom sidecar per Bloom column and pid.
  * The expected values here come from plain aggregates over `readAsOf`
  * diffs (or, for compactions, over the live pid dirs), never from the
  * commit path itself.
  */
class CommitMetaSpec extends SparkSpec {

  private def rows(lo: Long, hi: Long, salt: Int): DataFrame =
    spark.range(lo, hi).select(
      (col("id") % 4 + 1).cast("int").as("pid"), col("id").as("k"),
      (col("id") * salt % 1000).as("v"), (col("id") % 13).cast("int").as("q"),
      concat(lit("s"), (col("id") % 97).cast("string")).as("tag"))

  private def bounds(df: DataFrame, c: String): Seq[(Int, Long, Long)] =
    df.groupBy(col("pid").cast("int"))
      .agg(min(col(c).cast("long")), max(col(c).cast("long")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

  /** Entry `e`'s Bloom sidecar: (column, pid) -> (m, bits). */
  private def sidecar(dir: String,
      e: VersionedLayout.LogEntry): Map[(String, Int), (Int, Array[Byte])] = {
    val f = new java.io.File(s"$dir/_log",
      f"bloom-v${e.version}%05d" + (if (e.tag.isEmpty) "" else s"-${e.tag}") + ".txt")
    if (!f.isFile) Map.empty
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.filter(_.nonEmpty)
      .map { line =>
        val Array(c, p, m, b) = line.split("\\|", 4)
        (c, p.toInt) -> ((m.toInt, java.util.Base64.getDecoder.decode(b)))
      }.toMap
  }

  test("every writing verb records rowsW, rowsD, tpids, stats and Blooms of exactly what it landed") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-commitmeta").toString + "/t"
    def at(v: Int) = VersionedLayout.readAsOf(s, dir, v)
    def live(pids: Seq[Int]) = s.read.parquet(dir).where(col("pid").isin(pids: _*))
    val compactions = Set("compact", "majorcompact")

    /** Entry `v` against `written` (the rows it landed) and `killed`
      * (the (pid, key) rows its tombstones cover, for deleting verbs).
      */
    def check(v: Int, written: DataFrame, killed: Option[DataFrame]): Unit = {
      val e = VersionedLayout.log(dir).find(_.version == v).get
      val w = written.localCheckpoint()
      val what = s"v$v ${e.action}"
      if (compactions(e.action)) assert(e.rowsW == -1L && e.rowsD == -1L, what)
      else assert(e.rowsW == w.count(), s"$what rowsW")
      killed match {
        case Some(d) =>
          assert(e.rowsD == d.count(), s"$what rowsD")
          assert(e.tpids == d.select(col("pid").cast("int")).distinct()
            .collect().map(_.getInt(0)).sorted.toSeq, s"$what tpids")
        case None =>
          if (!compactions(e.action)) assert(e.rowsD == 0L, s"$what rowsD")
          assert(e.tpids.isEmpty, s"$what tpids")
      }
      val expectM = Seq("v", "q").map(c => c -> bounds(w, c)).toMap.filter(_._2.nonEmpty)
      assert(e.statsM == expectM, s"$what statsM")
      assert(e.stats == expectM.getOrElse("v", Nil), s"$what stats")
      val blooms = sidecar(dir, e)
      val landed = w.select(col("pid").cast("int"), col("k"), col("tag")).collect()
      assert(blooms.keySet == landed.map(_.getInt(0)).toSet.flatMap((p: Int) =>
        Set(("k", p), ("tag", p))), s"$what Bloom sidecar pids")
      landed.foreach { r =>
        val (mk, bk) = blooms(("k", r.getInt(0)))
        val (mt, bt) = blooms(("tag", r.getInt(0)))
        assert(VersionedLayout.bloomMightContain(mk, bk, r.getLong(1)),
          s"$what Bloom k=${r.getLong(1)}")
        assert(VersionedLayout.bloomMightContain(mt, bt, r.getString(2)),
          s"$what Bloom tag=${r.getString(2)}")
      }
    }

    VersionedLayout.writeBaseTable(s, rows(0, 400, 7), dir, Seq("k"),
      statsCols = Seq("v", "q"), bloomCols = Seq("k", "tag"))
    check(0, at(0), None)
    VersionedLayout.appendInsert(s, dir, rows(1000, 1040, 3))
    check(1, at(1).exceptAll(at(0)), None)
    VersionedLayout.appendUpsert(s, dir, col("k") < 30, _.withColumn("q", col("q") + 100))
    check(2, at(2).exceptAll(at(1)), Some(at(1).exceptAll(at(2))))
    VersionedLayout.appendDelete(s, dir, col("k").between(100, 140))
    check(3, at(3).exceptAll(at(2)), Some(at(2).exceptAll(at(3))))
    VersionedLayout.appendDeleteKeys(s, dir, Seq(200L, 201L, 1001L).toDF("k"))
    check(4, at(4).exceptAll(at(3)), Some(at(3).exceptAll(at(4))))
    // Updates 390..399 to a different v, inserts 400..409.
    VersionedLayout.appendMerge(s, dir, rows(390, 410, 3).withColumn("v", col("v") + 1),
      Map("v" -> col("s_v")))
    check(5, at(5).exceptAll(at(4)), Some(at(4).exceptAll(at(5))))
    val (_, rewritten) = VersionedLayout.appendCompact(s, dir, 0.0)
    assert(rewritten.nonEmpty)
    check(6, live(rewritten), None)
    // A restore tombstones every key whose row changed since v2 and
    // re-inserts the v2 state of those keys that existed then.
    VersionedLayout.restore(s, dir, 2)
    val changed = at(2).exceptAll(at(6)).unionByName(at(6).exceptAll(at(2)))
      .select("pid", "k").distinct()
    check(7, at(7).exceptAll(at(6)), Some(changed))
    VersionedLayout.appendReplace(s, dir, rows(2000, 2100, 11))
    check(8, at(8), Some(at(7)))
    VersionedLayout.majorCompact(s, dir)
    check(9, live(1 to 4), None)
  }

  test("a Bloom sidecar's bytes are pinned for a fixed input") {
    val s = spark
    val dir = Files.createTempDirectory("graft-bloomgolden").toString + "/t"
    VersionedLayout.writeBaseTable(s, rows(0, 40, 7), dir, Seq("k"),
      statsCols = Seq("v", "q"), bloomCols = Seq("k", "tag"))
    // 70 distinct values of each column in pid 2: 16 x 70 bits round up
    // to m = 2048, so the sizing is pinned along with the hashing.
    val v = VersionedLayout.appendInsert(s, dir, s.range(5000, 5070).select(
      lit(2).as("pid"), col("id").as("k"), (col("id") % 1000).as("v"), lit(3).as("q"),
      concat(lit("g"), col("id").cast("string")).as("tag")))
    val e = VersionedLayout.log(dir).find(_.version == v).get
    val f = new java.io.File(s"$dir/_log", f"bloom-v$v%05d-${e.tag}.txt")
    val golden =
      "k|2|2048|DAAABQAgACAAAACAACAABAAAEAAAAQAAAAAAAKAIAEAAGBAhCAhJAAA" +
      "SgCAAAAgCIANAAAAAQQBAAAQCACAIAAAAAAQAIAAkAAABAUAAAAAIACECBgAAEoA" +
      "QZAAAIBABAAgAICIEQAIAAAAAiAIAAABAQBwABiAARCAAIEggQAABBEGQQABCQAA" +
      "AQggSBAAEIAGAAAAAJgEEAFQABEAAACCABAAAAAgAgCUAAAACMBIAAACREIACAAA" +
      "AAAgAAACAABAEAAAACAySAQAYOJgAIAAAAAAkCAABABAAABBgZISIAAQAAhAIAAE" +
      "QEAAgAoIAAFHACAAgAEIUEBAAAAAAQA==\n" +
      "tag|2|2048|IAAACKBUAAAAEAJAACgACAAAAACAICBAAAAIAAYgAAAAAIACAALBA" +
      "ABAIgACBAEAAAAFBAABAGkQAIMIACNAAAgwASAARIAAABAAAAAQiIAAAACgAIQDB" +
      "AAgAIASAAiAoAACgAEEIJQBAAAARQQAIAAEGEaAhgAADAEIACAAACCqKQAGIAgDA" +
      "AICRAAAAAABAABEAAgAQQACQAAAAhAEAAAAQRAAQhAUIAADAAAQFABAAAAAQABAE" +
      "AQASRAACgAAAAgBAFGAEAAAgAAABACACEAAAAAAAAAAEAQIAAAAAIAABEQIAAAAQ" +
      "KBAQAgAkAUEAACGAAIAAAAAAAAAEAggAA=="
    assert(new String(Files.readAllBytes(f.toPath), "UTF-8") == golden)
  }
}
