package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}

/** A value built at most once per (session, key) and rebuilt when the
  * key's stamp changes: the one memo behind every shared pipeline stage
  * (CC labels, hashed shingles, MinHash signatures, k-means cells,
  * support-2 pairs, Louvain level 1, PC1, BPE merges), the stream
  * schema and the resident IVF-PQ index. Whichever consumer runs first
  * pays the build.
  *
  *  - The session part of the key is `sessionUUID`, unique for the JVM's
  *    lifetime: an identity hash can recur for a new session after an old
  *    one is collected, and would hand out frames bound to a stopped
  *    context. The stage memos key by their input dir.
  *  - `stamp(key)` is read on every access, outside the entry's lock, so
  *    concurrent accesses do not queue behind each other's directory
  *    walks; a mismatch is read again under the lock, as the first read
  *    may predate an entry installed meanwhile. A changed stamp replaces
  *    the entry, so an input rewritten in place is rebuilt, and
  *    superseded entries do not pile up.
  *  - Concurrent first accesses of one key build once; a failed build
  *    leaves the entry, and its reference, as they were. Each memo owns
  *    its map, so a build may read other memos (the CC labels build
  *    through the shingle and signature memos), never its own.
  *  - Each entry is reference counted: the memo holds one reference while
  *    the entry is current, and [[lease]] holds one while its body runs.
  *    `release` runs once the last reference goes, so a lease that
  *    started on an entry finishes on it even if a newer one replaced it
  *    meanwhile. The stage memos release nothing.
  *  - A stage build ends in an eager lineage cut or a driver-side value,
  *    so building a stage materializes it.
  *  - [[SessionMemo.clearAll]] drops every entry, so a bench pass builds
  *    each stage once; a context's entries go, unreleased, when it stops.
  */
final class SessionMemo[K, T] private (val name: String, stamp: K => String,
    release: T => Unit, build: (SparkSession, K) => T) {

  private final class Entry(val stamp: String, val value: T) {
    private val refs = new AtomicInteger(1)
    def acquire(): Entry = { refs.incrementAndGet(); this }
    def drop(): Unit = if (refs.decrementAndGet() == 0) release(value)
  }

  private val entries = new ConcurrentHashMap[(String, K), Entry]()
  private val built = new AtomicLong()

  /** Number of builds of this memo in this JVM. */
  def builds: Long = built.get()

  def apply(spark: SparkSession, key: K): T =
    current(spark, key, hold = false).value

  /** Runs `f` on the current value of `key`, holding a reference to it
    * until `f` returns. */
  def lease[R](spark: SparkSession, key: K)(f: T => R): R = {
    val e = current(spark, key, hold = true)
    try f(e.value) finally e.drop()
  }

  private def current(spark: SparkSession, key: K, hold: Boolean): Entry = {
    val seen = stamp(key)
    entries.compute((SessionMemo.session(spark), key), { (_, old) =>
      val s = if (old != null && old.stamp == seen) seen else stamp(key)
      val cur =
        if (old != null && old.stamp == s) old
        else {
          val e = new Entry(s, build(spark, key))
          built.incrementAndGet()
          // only once the new entry stands: a failed build leaves the old
          if (old != null) old.drop()
          e
        }
      if (hold) cur.acquire() else cur
    })
  }

  private def clear(): Unit =
    entries.keySet.forEach(k => Option(entries.remove(k)).foreach(_.drop()))
  private def forget(sessions: String => Boolean): Unit =
    entries.keySet.removeIf(k => sessions(k._1))
  private def count(sid: String): Int =
    entries.keySet.stream.filter(_._1 == sid).count.toInt
}

object SessionMemo {
  private val byName = new ConcurrentHashMap[String, SessionMemo[_, _]]()

  /** Registers a memo under `name`, unique in the JVM; `release` runs
    * on a value once no entry or lease holds it. */
  private[graft] def apply[K, T](name: String, stamp: K => String)(
      build: (SparkSession, K) => T,
      release: T => Unit = (_: T) => ()): SessionMemo[K, T] = {
    val m = new SessionMemo(name, stamp, release, build)
    require(byName.putIfAbsent(name, m) == null, s"memo $name exists")
    m
  }

  /** The stamp of a stage's input dir: every file under it. */
  private[graft] val dirStamp: String => String =
    dir => graft.sources.Tables.fileStamp(java.nio.file.Paths.get(dir))

  /** The stage memo registered as `name`, keyed by its input dir; Bench
    * builds each shared stage by its name. The operator modules register
    * their memos when first touched, so they are touched here first. */
  private[graft] def named(name: String): SessionMemo[String, _] = {
    Seq(Dedup, Graph, Similarity, TextAnalysis)
    Option(byName.get(name)).map(_.asInstanceOf[SessionMemo[String, _]])
      .getOrElse(throw new NoSuchElementException(s"no memo named $name"))
  }

  /** Drops every entry of every memo; each value is released once its
    * last lease ends. */
  private[graft] def clearAll(): Unit = byName.values.forEach(_.clear())

  /** Live entries of `spark`'s session (spec probe). */
  private[graft] def entriesFor(spark: SparkSession): Int = {
    val sid = GraftBridge.sessionUUID(spark)
    var n = 0
    byName.values.forEach(m => n += m.count(sid))
    n
  }

  /** Sessions seen per context; a context's listener drops their
    * entries when it stops. */
  private val sessions =
    new ConcurrentHashMap[SparkContext, java.util.Set[String]]()

  /** `spark`'s session id, after making sure its entries go when its
    * context stops. */
  private def session(spark: SparkSession): String = {
    val sid = GraftBridge.sessionUUID(spark)
    sessions.computeIfAbsent(spark.sparkContext, { sc =>
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          ended(sc)
      })
      ConcurrentHashMap.newKeySet[String]()
    }).add(sid)
    sid
  }

  /** Forgets a stopped context's entries without releasing them: their
    * blocks died with the context. */
  private def ended(sc: SparkContext): Unit =
    Option(sessions.remove(sc)).foreach { sids =>
      byName.values.forEach(_.forget(sids.contains))
    }
}
