package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** One JVM-level memo of a shared training: a trained model, a
  * checkpointed intermediate, anything one query family should pay for
  * once. Building a `Memo` registers it in [[Memos]], so
  * [[Memos.clearAll]] clears it and [[Memos.trainedEvents]] counts its
  * trainings — a new memo needs no other bookkeeping.
  *
  * Each key trains at most once: concurrent callers of one key wait for
  * the single training and all see its value (a per-key atomic
  * `computeIfAbsent`, so a training is all-or-nothing). A training may
  * read ANOTHER memo but never its own — a nested `computeIfAbsent` on
  * one map throws "Recursive update".
  */
final class Memo[V](val name: String) {
  private val map = new ConcurrentHashMap[String, V]()
  private val trainings = new AtomicLong(0L)
  Memos.register(this)

  /** Trainings this memo has run since JVM start (monotonic). */
  def trained: Long = trainings.get()

  /** The value for `key`, training it with `train` if absent. */
  def apply(key: String)(train: => V): V =
    map.computeIfAbsent(key, _ => { trainings.incrementAndGet(); train })

  /** The value for `key`, if its training already ran. */
  def get(key: String): Option[V] = Option(map.get(key))

  /** [[apply]] keyed by `(applicationId, startTime, dir)`, evicting the
    * entries of every OTHER session on insert: stale keys would hold
    * checkpointed frames whose blocks died with their context. The
    * (appId, startTime) pair is stable for a context's lifetime and
    * never reused after stop (unlike identityHashCode — round-8
    * ADVICE).
    */
  def session(s: SparkSession, dir: String)(train: => V): V = {
    val prefix =
      s"${s.sparkContext.applicationId}:${s.sparkContext.startTime}:"
    val key = prefix + dir
    if (!map.containsKey(key)) map.keySet.removeIf(!_.startsWith(prefix))
    apply(key)(train)
  }

  /** The [[session]] value for `dir`, from whichever session trained
    * it (entries of other sessions are evicted on insert, so at most
    * one normally remains).
    */
  def peek(dir: String): Option[V] = {
    val it = map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.endsWith(":" + dir)) return Some(e.getValue)
    }
    None
  }

  /** Drop every entry (the training count is kept). */
  def clear(): Unit = map.clear()
}
