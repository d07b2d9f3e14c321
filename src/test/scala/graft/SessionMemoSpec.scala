package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  FutureTask, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

class SessionMemoSpec extends SparkSpec {

  private val names = new AtomicInteger()

  /** A fresh memo that counts its builds and records the values it
    * releases, over a stamp the test sets; `onStamp` runs after each
    * stamp read. */
  private final class Counted(@volatile var fail: Boolean = false,
      onStamp: String => Unit = _ => ()) {
    val builds = new AtomicInteger()
    val released = new ConcurrentLinkedQueue[AnyRef]()
    @volatile var stamp = "v1"
    val memo = SessionMemo[String, AnyRef](
        s"spec_memo_${names.incrementAndGet()}",
        { _ => val s = stamp; onStamp(s); s })({ (_, _) =>
      builds.incrementAndGet()
      Thread.sleep(50)
      if (fail) throw new IllegalStateException("build failed")
      new Object
    }, v => released.add(v))
    def releasedOf(v: AnyRef): Int = released.toArray.count(_ eq v)
  }

  test("every consumer of a session gets the one built value") {
    val c = new Counted
    val a = c.memo(spark, "k")
    assert(c.memo(spark, "k") eq a)
    assert(c.builds.get === 1)
    // Bench's lookup by stage name reaches the same memo as the consumers
    val labels = Dedup.dupClusters(spark, sf)
    val viaName = SessionMemo.named("stage_cc_labels")(spark, sf)
    assert(viaName.asInstanceOf[AnyRef] eq labels)
    assert(Dedup.dupClusters(spark, sf) eq labels)
  }

  test("a second session builds its own") {
    val c = new Counted
    val a = c.memo(spark, "k")
    val s2 = spark.newSession()
    val b = c.memo(s2, "k")
    assert(!(a eq b))
    assert(c.builds.get === 2)
    assert(c.memo(s2, "k") eq b)
  }

  test("clearAll drops every entry, so the next access rebuilds") {
    val c = new Counted
    val a = c.memo(spark, "k")
    SessionMemo.clearAll()
    assert(!(c.memo(spark, "k") eq a))
    assert(c.builds.get === 2)
  }

  test("a changed stamp rebuilds and replaces the entry") {
    val c = new Counted
    val before = SessionMemo.entriesFor(spark)
    val a = c.memo(spark, "k")
    c.stamp = "v2"
    val b = c.memo(spark, "k")
    assert(!(a eq b))
    assert(c.memo(spark, "k") eq b)
    assert(c.builds.get === 2)
    assert(SessionMemo.entriesFor(spark) === before + 1)
  }

  test("concurrent first accesses of one key build once") {
    val c = new Counted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 8).map(_ =>
        pool.submit(() => c.memo(spark, "k")))
      val vs = fs.map(_.get())
      assert(vs.forall(_ eq vs.head))
      assert(c.builds.get === 1)
    } finally pool.shutdown()
  }

  test("a failed build leaves no entry, and the next access builds again") {
    val c = new Counted(fail = true)
    val before = SessionMemo.entriesFor(spark)
    intercept[IllegalStateException](c.memo(spark, "k"))
    assert(SessionMemo.entriesFor(spark) === before)
    intercept[IllegalStateException](c.memo(spark, "k"))
    assert(c.builds.get === 2)
  }

  test("a stamp read before another caller's rebuild does not rebuild " +
      "again: both callers get the one value") {
    val read = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    val slow = "spec_memo_slow_caller"
    val paused = new AtomicBoolean()
    val c = new Counted(onStamp = s =>
      if (s == "v1" && Thread.currentThread.getName == slow &&
          paused.compareAndSet(false, true)) {
        read.countDown()
        assert(go.await(60, TimeUnit.SECONDS))
      })
    c.memo(spark, "k")
    val late = new FutureTask(() => c.memo(spark, "k"))
    val t = new Thread(late, slow)
    t.start()
    // the slow caller has read v1; another caller rebuilds at v2
    assert(read.await(60, TimeUnit.SECONDS))
    c.stamp = "v2"
    val b = c.memo(spark, "k")
    go.countDown()
    assert(late.get(60, TimeUnit.SECONDS) eq b)
    assert(c.builds.get === 2)
  }

  test("a superseded entry is released once, after its last lease ends") {
    val c = new Counted
    val a = c.memo(spark, "k")
    c.memo.lease(spark, "k") { held =>
      assert(held eq a)
      c.stamp = "v2"
      val b = c.memo.lease(spark, "k")(identity)
      assert(!(b eq a))
      assert(c.releasedOf(a) === 0, "released while a lease held it")
    }
    assert(c.releasedOf(a) === 1)
    c.memo(spark, "k")
    assert(c.releasedOf(a) === 1)
    assert(c.released.size === 1, "the current entry was released")
  }

  test("clearAll releases every entry no lease holds") {
    val c = new Counted
    val a = c.memo(spark, "k")
    val s2 = spark.newSession()
    val b = c.memo(s2, "k")
    c.memo.lease(s2, "k") { _ =>
      SessionMemo.clearAll()
      assert(c.releasedOf(a) === 1)
      assert(c.releasedOf(b) === 0, "released while a lease held it")
    }
    assert(c.releasedOf(b) === 1)
  }

  test("a failed rebuild keeps the old entry and its reference") {
    val c = new Counted
    val a = c.memo(spark, "k")
    c.stamp = "v2"
    c.fail = true
    intercept[IllegalStateException](c.memo.lease(spark, "k")(identity))
    assert(c.released.isEmpty)
    c.stamp = "v1"
    assert(c.memo(spark, "k") eq a)
    assert(c.builds.get === 2)
    SessionMemo.clearAll()
    assert(c.releasedOf(a) === 1)
  }

  test("stage memos rebuild after their input is rewritten in place") {
    val dir = tempDir("graft_rewrite")
    val ls = Files.list(Paths.get(sf))
    try ls.forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    finally ls.close()
    val q53 = SparkEntry.queries("q53_dup_clusters")
    def rows(s: SparkSession) =
      q53(s, dir.toString).collect().map(_.toSeq).toSet
    val before = rows(spark)
    // same path, one file: keep the even-numbered documents
    val docs = dir.resolve("documents.parquet")
    val out = tempDir("graft_rewrite_docs").resolve("out")
    spark.read.parquet(docs.toString).filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, docs, StandardCopyOption.REPLACE_EXISTING)
    val fresh = rows(spark.newSession())
    assert(fresh !== before, "the rewrite did not change q53")
    assert(rows(spark) === fresh, "q53 served labels of the old corpus")
  }

  test("a stopped context leaves no memo entry and no resident index") {
    forkMain("graft.SessionEndStage", sf, tempDir("ivfpq_idx").toString)
  }
}
