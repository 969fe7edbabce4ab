package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** A per-(session, key) memo for values that cost a Spark job or file
  * I/O to build (plan-construction estimates, footer walks, training
  * trajectories).
  *
  *  - The build runs OUTSIDE the map's lock. `computeIfAbsent` would
  *    hold a bin lock for the whole job: a concurrent caller on a
  *    same-bin key blocks for its duration, and a reentrant call
  *    deadlocks or throws.
  *  - Two racing callers may both build. The first `putIfAbsent` wins;
  *    the loser's value goes to `discard`, so a lost race costs one
  *    duplicate build, never a wrong answer.
  *  - Entries of stopped sessions are evicted on every lookup: they
  *    would pin a dead session, and reusing one would fail as "SparkContext
  *    has been shut down" instead of rebuilding.
  *  - `recalls`, when given, counts the lookups an earlier build served.
  */
final class SessionMemo[K, V](discard: V => Unit = (_: V) => (),
                              recalls: Option[AtomicLong] = None) {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]

  def apply(s: SparkSession, k: K)(build: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (s, k)
    Option(entries.get(key)) match {
      case Some(v) =>
        recalls.foreach(_.incrementAndGet())
        v
      case None =>
        val built = build
        Option(entries.putIfAbsent(key, built)) match {
          case Some(prev) => discard(built); prev
          case None => built
        }
    }
  }

  /** Claim `v` for (s, k), replacing any entry (a test seam). */
  def put(s: SparkSession, k: K, v: V): Unit = entries.put((s, k), v)

  /** Discard every entry's value, then drop the entries. */
  def clear(): Unit = {
    entries.values.forEach(v => discard(v))
    entries.clear()
  }
}
