package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one cache for session-staged artifacts: the standing assets (shingle
  * checkpoints, pair graphs, ANN codebooks, merge lists, bucketed tables,
  * scratch lakes, streaming indexes) that the bench's `*_prep` entries time
  * cold and every composed query then reuses. An entry is keyed by
  * (session, canonical input dir), so `dir`, `dir/` and a relative path to
  * the same dir share one entry, and a `spark.newSession()` never sees
  * another session's entries.
  *
  * Liveness: each instance gets its probe when it is constructed, and the
  * probe runs on every hit.
  *  - [[SessionCache.frames]] caches materialized (localCheckpoint'd)
  *    DataFrames and probes them with a one-row take. ONLY a
  *    missing-checkpoint-block failure (evicted localCheckpoint RDD blocks,
  *    or a since-stopped context) triggers a rebuild; any other error — an
  *    unreadable corpus, an executor fault, OOM — propagates to the caller
  *    (ADVICE r9: masking a real fault as "stale cache" triggers a doomed
  *    rebuild and hides the diagnosis).
  *  - [[SessionCache.values]] caches driver values (arrays, merge lists,
  *    paths, handles to checkpoints the value's owner manages) and never
  *    probes: there is no RDD block to lose, and a probe is a Spark job on
  *    every call.
  *
  * Eviction: every instance's entries for a session are evicted when that
  * session's application ends (one listener per session, installed on its
  * first insert into any instance), so a stopped session's values and
  * pinned checkpoint blocks never leak for the process lifetime.
  *
  * Keys carry no input fingerprint by design: the engine treats a
  * (session, dir) input as immutable for the session's lifetime — the
  * same assumption Spark itself makes of a parquet table under an active
  * plan. Mutating files under `dir` mid-session requires a new session or
  * an explicit [[evict]]. */
private[graft] final class SessionCache[V] private (probe: V => Unit) {
  private val map =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]
  SessionCache.register(this)

  private def key(s: SparkSession, dir: String): (SparkSession, String) =
    (s, new java.io.File(dir).getCanonicalPath)

  private def insert(k: (SparkSession, String), build: => V): V = {
    val v = build
    SessionCache.hookEviction(k._1)
    map.put(k, v)
    v
  }

  def getOrBuild(s: SparkSession, dir: String)(build: => V): V = {
    val k = key(s, dir)
    map.get(k) match {
      case Some(v) =>
        try { probe(v); v }
        catch {
          case t: Throwable if SessionCache.isMissingCheckpointBlock(t) =>
            map.remove(k)
            insert(k, build)
        }
      case None => insert(k, build)
    }
  }

  /** Drop every entry of the session. */
  def evict(s: SparkSession): Unit = {
    map.keys.filter(_._1 eq s).foreach(map.remove)
    ()
  }

  /** Drop the session's entry for one dir (a dir whose files are about to
    * be rewritten); the session's other entries stay. */
  def evict(s: SparkSession, dir: String): Unit = {
    map.remove(key(s, dir))
    ()
  }
}

private[graft] object SessionCache {
  def frames(): SessionCache[DataFrame] =
    new SessionCache[DataFrame](df => { df.take(1); () })

  def values[V](): SessionCache[V] = new SessionCache[V](_ => ())

  /** Live instances, weakly held so a cache a spec drops is collectable. */
  private val instances = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SessionCache[_], java.lang.Boolean])

  private def register(c: SessionCache[_]): Unit = {
    instances.put(c, java.lang.Boolean.TRUE)
    ()
  }

  /** Sessions whose application-end listener is installed. The marker
    * SURVIVES an explicit evict: listeners cannot be unregistered, so
    * clearing it would make the next insert register a second permanent
    * listener — an evict-and-rebuild cycle (the bench's cold preps, the
    * specs) would leak one listener per cycle (review r11). Only the
    * app-end callback clears it, when the session is gone for good. */
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  private def hookEviction(s: SparkSession): Unit =
    if (hooked.add(s))
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            val live = instances.synchronized(instances.keySet.asScala.toList)
            live.foreach(_.evict(s))
            hooked.remove(s)
            ()
          }
        })

  /** True iff the failure chain says a cached plan's localCheckpoint RDD
    * blocks are gone — the ONE failure the liveness probe may self-heal
    * by rebuilding (ADVICE r9). */
  def isMissingCheckpointBlock(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: org.apache.spark.storage.BlockNotFoundException => true
      case e => Option(e.getMessage).exists(m =>
        m.contains("Checkpoint block") || m.contains("BlockNotFound") ||
          m.contains("stopped SparkContext"))
    }
}
