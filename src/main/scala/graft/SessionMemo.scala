package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}

/** A value built at most once per (session, key) and rebuilt when the
  * key's stamp changes: the one memo behind every shared pipeline stage
  * (CC labels, hashed shingles, MinHash signatures, k-means cells,
  * support-2 pairs, Louvain level 1, PC1, BPE merges) and the stream
  * schema. Whichever consumer runs first pays the build.
  *
  *  - The session part of the key is `sessionUUID`, unique for the JVM's
  *    lifetime: an identity hash can recur for a new session after an old
  *    one is collected, and would hand out frames bound to a stopped
  *    context. The key string is usually the input dir.
  *  - `stamp(key)` is read on every access, outside the entry's lock. A
  *    changed stamp replaces the entry, so an input rewritten in place is
  *    rebuilt, and superseded entries do not pile up.
  *  - Concurrent first accesses of one key build once; a failed build
  *    leaves the map as it was. Each memo owns its map, so a build may
  *    read other memos (the CC labels build through the shingle and
  *    signature memos), never its own.
  *  - A stage build ends in an eager lineage cut or a driver-side value,
  *    so building a stage materializes it.
  *  - [[SessionMemo.clearAll]] drops every entry, so a bench pass builds
  *    each stage once; a context's entries go when it stops.
  */
final class SessionMemo[T] private (val name: String,
    stamp: String => String, build: (SparkSession, String) => T) {
  private val entries =
    new ConcurrentHashMap[(String, String), (String, T)]()

  def apply(spark: SparkSession, key: String): T = {
    val s = stamp(key)
    entries.compute((SessionMemo.session(spark), key), (_, cur) =>
      if (cur != null && cur._1 == s) cur else (s, build(spark, key)))._2
  }

  private def clear(): Unit = entries.clear()
  private def drop(sessions: String => Boolean): Unit =
    entries.keySet.removeIf(k => sessions(k._1))
  private def count(sid: String): Int =
    entries.keySet.stream.filter(_._1 == sid).count.toInt
}

object SessionMemo {
  private val byName = new ConcurrentHashMap[String, SessionMemo[_]]()

  /** Registers a memo under `name`, unique in the JVM. */
  private[graft] def apply[T](name: String, stamp: String => String)(
      build: (SparkSession, String) => T): SessionMemo[T] = {
    val m = new SessionMemo(name, stamp, build)
    require(byName.putIfAbsent(name, m) == null, s"memo $name exists")
    m
  }

  /** The stamp of a stage's input dir: every file under it. */
  private[graft] val dirStamp: String => String =
    dir => graft.sources.Tables.fileStamp(java.nio.file.Paths.get(dir))

  /** The memo registered as `name`; Bench builds each shared stage by
    * its name. The operator modules register their memos when first
    * touched, so they are touched here first. */
  private[graft] def named(name: String): SessionMemo[_] = {
    Seq(Dedup, Graph, Similarity, TextAnalysis)
    Option(byName.get(name))
      .getOrElse(throw new NoSuchElementException(s"no memo named $name"))
  }

  /** Drops every memo entry and every resident IVF-PQ index. */
  private[graft] def clearAll(): Unit = {
    byName.values.forEach(_.clear())
    Similarity.clearResidentIvfpq()
  }

  /** Live entries of `spark`'s session: memo entries plus resident
    * IVF-PQ indexes (spec probe). */
  private[graft] def entriesFor(spark: SparkSession): Int = {
    val sid = GraftBridge.sessionUUID(spark)
    var n = Similarity.residentIvfpqEntries(sid)
    byName.values.forEach(m => n += m.count(sid))
    n
  }

  /** Sessions seen per context; a context's listener drops their
    * entries when it stops. */
  private val sessions =
    new ConcurrentHashMap[SparkContext, java.util.Set[String]]()

  /** `spark`'s session id, after making sure its entries go when its
    * context stops (the one key the memos and the resident index use). */
  private[graft] def session(spark: SparkSession): String = {
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

  /** Forgets a stopped context's entries. Resident indexes are dropped
    * without unpersisting: their blocks died with the context. */
  private def ended(sc: SparkContext): Unit =
    Option(sessions.remove(sc)).foreach { sids =>
      byName.values.forEach(_.drop(sids.contains))
      Similarity.dropResidentIvfpq(sids.contains)
    }
}
