package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one session-scoped cache: stored artifacts (SCD2 dim
  * snapshots, staging extracts, index tables, fitted models) built once
  * per corpus snapshot and read by many queries, and loop-invariant
  * frames re-pinned on every invocation.
  *
  * An entry is keyed by its session, compared by identity, and its
  * family. A family holds at most one entry per session, so a sweep over
  * N corpora keeps one artifact per family, never N. Two modes:
  *
  *  - [[memo]] builds once. A repeat call with the same `corpus` returns
  *    the stored value; a call with another `corpus` displaces the entry
  *    and releases its persisted frames, so a corpus switch never serves
  *    a stale artifact.
  *  - [[swap]] rebuilds on every invocation. Plain `.cache()` would pin
  *    each pass's blocks in CacheManager for the session lifetime, and an
  *    eager `localCheckpoint()` inserts a materialization barrier that
  *    measured 35–50% slower for the q127 wedge pipeline (cache pipelines
  *    the first pass; the checkpoint cannot). `swap` keeps cache's lazy
  *    pipelining but bounds the pinning to one set per family: a 4-pass
  *    bench holds one pair table, not four, and each pass still pays its
  *    full build, so the timing stays honest.
  *
  * One eviction path: [[evict]] releases a session's entries, and one
  * application-end listener per SparkContext drops every entry of its
  * sessions, so a stopped session's object graph is never retained (its
  * blocks died with the context).
  */
private[graft] object SessionMemo {

  private final case class Entry(corpus: Any, value: Any, pinned: Seq[DataFrame])

  private val sessions =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  /** Unpersists `dfs`, whose entry has already left the map, except a
    * frame whose plan gives the same result as one another live entry
    * pins: CacheManager is per SparkContext and matches entries by plan,
    * so unpersisting it would uncache that entry's frame too. */
  private def release(dfs: Seq[DataFrame]): Unit = {
    val live = sessions.values.asScala.flatMap(_.values.asScala).flatMap(_.pinned).toSeq
    dfs.filterNot(df => live.exists(p =>
      (p.sparkSession.sparkContext eq df.sparkSession.sparkContext) && p.sameSemantics(df)))
      .foreach(df => scala.util.Try(df.unpersist(blocking = false)))
  }

  private def families(s: SparkSession): ConcurrentHashMap[String, Entry] = {
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        // lock-free: the listener bus never waits on a build in progress
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          sessions.keySet.removeIf(_.sparkContext eq sc)
          hooked.remove(sc): Unit
        }
      })
    sessions.computeIfAbsent(s, _ => new ConcurrentHashMap[String, Entry]())
  }

  private def lookup(s: SparkSession, family: String, corpus: Any): Option[Any] =
    Option(sessions.get(s)).flatMap(fs => Option(fs.get(family)))
      .collect { case e if e.corpus == corpus => e.value }

  /** Build-once: the value stored under (`s`, `family`) for `corpus`,
    * built on the first call. `build` receives `pin`, which persists a
    * frame and ties it to the entry, so displacement and eviction release
    * it; a driver-side model ignores it.
    *
    * The hit path takes no lock. Builds run under one reentrant lock, not
    * inside `ConcurrentHashMap.computeIfAbsent`: they nest on one thread
    * (the ETL outputs read the OLTP entry, the stored driver dim reads the
    * 2-day SCD2 entry), and a nested computeIfAbsent on the same map
    * throws. A reader may hold frames that a later displacement releases;
    * they stay correct, since unpersist only drops blocks and the plan
    * recomputes. */
  def memo[T](s: SparkSession, family: String, corpus: Any)(
      build: (DataFrame => DataFrame) => T): T =
    lookup(s, family, corpus).getOrElse(synchronized {
      lookup(s, family, corpus).getOrElse {
        val fams = families(s)
        Option(fams.remove(family)).foreach(e => release(e.pinned))
        val pinned = Seq.newBuilder[DataFrame]
        val value =
          try build { df => val p = df.persist(); pinned += p; p }
          catch { case t: Throwable => release(pinned.result()); throw t }
        fams.put(family, Entry(corpus, value, pinned.result()))
        value
      }
    }).asInstanceOf[T]

  /** Rebuild-every-invocation: persist `dfs`, releasing the frames the
    * previous invocation pinned under (`s`, `family`). Returns the
    * persisted frames in order. */
  def swap(s: SparkSession, family: String, dfs: DataFrame*): Seq[DataFrame] =
    synchronized {
      val fams = families(s)
      // release BEFORE persisting: the new invocation's frames carry the
      // IDENTICAL logical plan (same deterministic build), so persisting
      // first would no-op against the existing CacheManager entry and
      // the subsequent unpersist of the old frames would drop that entry
      // — leaving nothing cached at all
      Option(fams.remove(family)).foreach(e => release(e.pinned))
      val persisted = dfs.map(_.persist())
      fams.put(family, Entry((), persisted, persisted))
      persisted
    }

  /** Drop every entry bound to `s`, releasing its persisted frames. */
  def evict(s: SparkSession): Unit = synchronized {
    Option(sessions.remove(s)).foreach(_.values.forEach(e => release(e.pinned)))
  }

  /** The families bound to `s`, each with the corpus its entry serves. */
  def entries(s: SparkSession): Map[String, Any] =
    Option(sessions.get(s)).fold(Map.empty[String, Any])(
      _.asScala.view.mapValues(_.corpus).toMap)
}
