package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IvfIndexStore, LshIndexStore, SnapshotCache, VersionedLayout}

/** Round-18 pins for the round-17 snapshot-metadata cache.
  *
  * 1. EVICTION IS LRU, NOT CLEAR-ALL: entry 513 must evict exactly the
  *    least-recently-used key, never wipe the map (the round-17
  *    clear-all made a long-lived session cyclically rebuild every
  *    plan).
  *
  * 2. EVERY MUTATION VERB INVALIDATES: the cache's soundness rests on
  *    stamps (layout log head, generation-manifest mtime+length, chain
  *    base mtime + delta/archive shape) changing on every mutation.
  *    These tests pin the BEHAVIOR — read-after-mutate in ONE session
  *    must reflect the mutation — so a stamp refactor that silently
  *    starts serving stale relations fails here, per verb, not in a
  *    distant correctness run.
  */
class SnapshotCacheSpec extends SparkSpec {

  test("eviction is LRU: the 513th entry evicts one key, not the cache") {
    val s = spark
    // Unique key space for this test run (the shared session's other
    // suites may have populated the cache).
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    def put(i: Int) = SnapshotCache.plan(s, s"spec|$nonce|$i")(s.range(1).toDF())
    (1 to SnapshotCache.maxEntries).foreach(put)
    val sizeFull = SnapshotCache.size
    var rebuilt = 0
    def probe(i: Int) =
      SnapshotCache.plan(s, s"spec|$nonce|$i") { rebuilt += 1; s.range(1).toDF() }
    // Touch key 2 so key 1 (oldest untouched) is the LRU victim.
    probe(2)
    assert(rebuilt == 0, "touching a cached key must not rebuild")
    put(SnapshotCache.maxEntries + 1) // one past the bound
    assert(SnapshotCache.size == sizeFull,
      s"size must stay at the bound, got ${SnapshotCache.size} vs $sizeFull")
    probe(2); probe(SnapshotCache.maxEntries); probe(SnapshotCache.maxEntries + 1)
    assert(rebuilt == 0, "recently-used keys must survive one eviction")
  }

  test("layout: every mutation verb invalidates the cached as-of/feed plans") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-cachespec").toString + "/t"
    def rows(ids: Seq[Long]) = {
      val s0 = s; import s0.implicits._
      ids.map(i => (((i % 4) + 1).toInt, i, i * 10)).toDF("pid", "k", "v")
    }
    def head = VersionedLayout.currentVersion(dir)
    def liveKeys = VersionedLayout.readAsOf(s, dir, head)
      .select("k").collect().map(_.getLong(0)).toSet
    VersionedLayout.writeBaseTable(s, rows(1L to 8L), dir, Seq("k"))
    assert(liveKeys == (1L to 8L).toSet)
    // insert
    VersionedLayout.appendInsert(s, dir, rows(Seq(100L)))
    assert(liveKeys == (1L to 8L).toSet + 100L, "stale read after insert")
    // delete
    VersionedLayout.appendDelete(s, dir, col("k") === 100L)
    assert(liveKeys == (1L to 8L).toSet, "stale read after delete")
    // upsert
    VersionedLayout.appendUpsert(s, dir, col("k") === 1L,
      m => m.withColumn("v", col("v") + 1))
    assert(VersionedLayout.readAsOf(s, dir, head).where(col("k") === 1L)
      .select("v").first().getLong(0) == 11L, "stale read after upsert")
    // feed window includes the newest commit
    def feedTypes = VersionedLayout.changeFeed(s, dir, 0, head)
      .groupBy(col("change_version")).count().collect()
      .map(_.getInt(0)).toSet
    assert(feedTypes == Set(1, 2, 3), "stale feed after upsert")
    // compact (minor) — answers preserved, no stale file references
    VersionedLayout.appendCompact(s, dir, 0.0)
    assert(liveKeys == (1L to 8L).toSet, "stale read after compact")
    // restore
    VersionedLayout.restore(s, dir, 1)
    assert(liveKeys == (1L to 8L).toSet + 100L, "stale read after restore")
    // checkpoint is metadata-only but must not change answers
    VersionedLayout.checkpoint(dir)
    assert(liveKeys == (1L to 8L).toSet + 100L, "stale read after checkpoint")
    def vOf(k: Long) = VersionedLayout.readAsOf(s, dir, head).where(col("k") === k)
      .select("v").first().getLong(0)
    // merge: updates k=2, inserts k=200
    VersionedLayout.appendMerge(s, dir, rows(Seq(2L, 200L)).withColumn("v", col("v") + 5),
      Map("v" -> col("s_v")))
    assert(liveKeys == (1L to 8L).toSet + 100L + 200L && vOf(2L) == 25L,
      "stale read after merge")
    // majorCompact: every live pid dir moves to the fold's archive
    val (fold, _) = VersionedLayout.majorCompact(s, dir)
    assert(liveKeys == (1L to 8L).toSet + 100L + 200L && vOf(2L) == 25L,
      "stale read after majorCompact")
    assert(VersionedLayout.readAsOf(s, dir, fold - 1).count() == 10L,
      "stale as-of read below the fold")
    // vacuum: its GC rewrites the tombstone dirs below the horizon in
    // place, so a relation resolved before it must not be served after.
    val tombsBefore = VersionedLayout.tombstonesAt(s, dir, 2).count()
    VersionedLayout.vacuum(s, dir, fold)
    assert(VersionedLayout.tombstonesAt(s, dir, 2).count() < tombsBefore,
      "tombstone set read stale after vacuum's GC")
    assert(liveKeys == (1L to 8L).toSet + 100L + 200L, "stale read after vacuum")
    intercept[IllegalArgumentException](VersionedLayout.readAsOf(s, dir, fold - 1))
    // replace
    VersionedLayout.appendReplace(s, dir, rows(Seq(300L, 301L)))
    assert(liveKeys == Set(300L, 301L), "stale read after replace")
    // schema evolution
    VersionedLayout.addColumn(s, dir, "w", "bigint")
    VersionedLayout.appendInsert(s, dir, rows(Seq(302L)).withColumn("w", lit(7L)))
    assert(VersionedLayout.readAsOf(s, dir, head).where(col("k") === 302L)
      .select("w").first().getLong(0) == 7L, "stale read after addColumn")
    VersionedLayout.renameColumn(s, dir, "v", "v2")
    val renamed = VersionedLayout.readAsOf(s, dir, head)
    assert(renamed.columns.contains("v2") && !renamed.columns.contains("v")
      && renamed.where(col("k") === 300L).select("v2").first().getLong(0) == 3000L,
      "stale read after renameColumn")
    VersionedLayout.dropColumn(s, dir, "w")
    assert(!VersionedLayout.readAsOf(s, dir, head).columns.contains("w"),
      "stale read after dropColumn")
    assert(liveKeys == Set(300L, 301L, 302L), "stale keys after evolution")
  }

  test("layout: after an appendInsert, building readAsOf(head) resolves no source again") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-cachespec-jobs").toString + "/t"
    def rows(ids: Seq[Long]) = {
      val s0 = s; import s0.implicits._
      ids.map(i => (((i % 4) + 1).toInt, i, i * 10)).toDF("pid", "k", "v")
    }
    // Jobs this thread starts while `body` runs (a job group keeps
    // other threads' jobs out of the count).
    def jobsDuring(body: => Unit): Int = {
      val group = s"cachespec-${java.util.UUID.randomUUID()}"
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
            n.incrementAndGet()
      }
      s.sparkContext.addSparkListener(l)
      s.sparkContext.setJobGroup(group, "jobs probe")
      try body finally {
        s.sparkContext.clearJobGroup()
        // Listener events are delivered asynchronously.
        Thread.sleep(500)
        s.sparkContext.removeSparkListener(l)
      }
      n.get()
    }
    // Sources at the head: the live pid dirs, one tombstone set, two
    // insert segments.
    VersionedLayout.writeBaseTable(s, rows(1L to 40L), dir, Seq("k"))
    VersionedLayout.appendInsert(s, dir, rows(Seq(100L, 101L)))
    VersionedLayout.appendDelete(s, dir, col("k") === 3L)
    VersionedLayout.readAsOf(s, dir, VersionedLayout.currentVersion(dir)).count()
    val insertJobs = jobsDuring(VersionedLayout.appendInsert(s, dir, rows(Seq(102L))))
    val head = VersionedLayout.currentVersion(dir)
    val buildJobs = jobsDuring(VersionedLayout.readAsOf(s, dir, head))
    assert(buildJobs == 0, s"readAsOf(head) after an insert started $buildJobs jobs")
    // The insert resolved only its own segment: its write and its one
    // metadata aggregate (two stages), not one inference job per source.
    assert(insertJobs <= 3, s"appendInsert started $insertJobs jobs")
    assert(VersionedLayout.readAsOf(s, dir, head).count() == 42L)
    // Control: the same sources under a new path resolve cold, one
    // inference job per source relation.
    val clone = java.nio.file.Files.createTempDirectory("graft-cachespec-jobs").toString + "/c"
    VersionedLayout.cloneAsOf(s, dir, clone, head)
    val coldJobs = jobsDuring(VersionedLayout.readAsOf(s, clone, head))
    assert(coldJobs >= 4, s"a cold build of 4 sources started only $coldJobs jobs")
  }

  test("LSH chain: admit, retract, compact each invalidate the cached chain read") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-cachespec-lsh").toString + "/idx"
    val s0 = s; import s0.implicits._
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def bands(rows: Seq[(Long, String)]) =
      Dedup.bandRows(Dedup.minhashSignatures(docs(rows), "doc_id", "text"), 1)
    val base = (1L to 4L).map(i => i -> "alpha beta gamma delta epsilon zeta")
    val delta = Seq(9L -> "alpha beta gamma delta epsilon zeta")
    def pairDocs = LshIndexStore.pairs(s, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct().collect().map(_.getLong(0)).toSet
    LshIndexStore.init(s, dir, bands(base))
    val p0 = pairDocs
    assert(p0 == (1L to 4L).toSet)
    LshIndexStore.admit(s, dir, bands(delta))
    assert(pairDocs == (1L to 4L).toSet + 9L, "stale pairs after admit")
    LshIndexStore.retract(s, dir, Seq(9L).toDF("doc_id"))
    assert(pairDocs == (1L to 4L).toSet, "stale pairs after retract")
    LshIndexStore.compact(s, dir)
    assert(pairDocs == (1L to 4L).toSet, "stale pairs after compact")
  }

  test("IVF chain: admit, retract, compact each invalidate the cached postings read") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-cachespec-ivf").toString + "/idx"
    val s0 = s; import s0.implicits._
    def proj(rows: Seq[Long]) = rows.map(i => (i, Seq(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        graft.functions.vectors.norm(col("embedding")).as("nrm"))
    val cent = proj(Seq(0L)).select(col("vec_id").as("cid"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    def assign(df: org.apache.spark.sql.DataFrame) =
      IvfIndexStore.assignAgainst(df, cent, "vec_id", "embedding", "nrm")
    def liveIds = IvfIndexStore
      .assignmentsOf(s, dir, IvfIndexStore.currentGeneration(dir))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    IvfIndexStore.init(s, dir, cent, assign(proj(1L to 4L)))
    assert(liveIds == (1L to 4L).toSet)
    IvfIndexStore.admit(s, dir, assign(proj(Seq(9L))))
    assert(liveIds == (1L to 4L).toSet + 9L, "stale postings after admit")
    IvfIndexStore.retract(s, dir, Seq(9L).toDF("vec_id"))
    assert(liveIds == (1L to 4L).toSet, "stale postings after retract")
    IvfIndexStore.compact(s, dir)
    assert(liveIds == (1L to 4L).toSet, "stale postings after compact")
  }
}
