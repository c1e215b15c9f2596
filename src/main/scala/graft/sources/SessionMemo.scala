package graft.sources

import org.apache.spark.sql.SparkSession

/** The engine's one session-scoped memo: a string key maps to one value
  * per live SparkSession (a fixture directory, a compacted output, a
  * derived DataFrame, a small driver-side plan value).
  *
  *  - Keying: entries are keyed `"<sessionKey>|<key>"`, so sessions never
  *    share an entry. Each call site owns its own instance, so no two
  *    sites share a key namespace either.
  *  - Lifetime: every lookup first sweeps the entries whose session's
  *    SparkContext has stopped; `onDrop` releases a swept value (the
  *    fixture memos delete their temp dir with it).
  *  - Concurrency: the memo lock covers only sweep, lookup and insert.
  *    The build runs on the key's [[SessionMemo.Slot]], so distinct keys
  *    build concurrently, same-key callers share one build, and a build
  *    may look up other keys of the same memo (liPartitions → liPscan)
  *    without deadlock.
  *  - Failure: a failed build rethrows and is re-attempted on the next
  *    access of its key; `onDrop` only ever sees values whose build
  *    finished. */
final class SessionMemo[V](onDrop: V => Unit = (_: V) => ()) {
  import SessionMemo.Slot

  private val entries = new java.util.HashMap[String, (SparkSession, Slot[V])]()

  def apply(spark: SparkSession, key: String)(build: => V): V = {
    val full = s"${SessionMemo.sessionKey(spark)}|$key"
    val slot = entries.synchronized {
      removeWhere((_, s) => s.sparkContext.isStopped)
      val hit = entries.get(full)
      if (hit != null) hit._2
      else {
        val s = new Slot(() => build)
        entries.put(full, (spark, s))
        s
      }
    }
    slot.value
  }

  /** Drop THIS session's entries whose key (without the session prefix)
    * satisfies `keyPred`; returns the dropped values whose build had
    * finished, after `onDrop` ran on each. */
  def dropWhere(spark: SparkSession)(keyPred: String => Boolean): Seq[V] =
    entries.synchronized {
      val prefix = s"${SessionMemo.sessionKey(spark)}|"
      removeWhere((k, _) => k.startsWith(prefix) &&
        keyPred(k.substring(prefix.length)))
    }

  private def removeWhere(p: (String, SparkSession) => Boolean): Seq[V] = {
    val dropped = Seq.newBuilder[V]
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (spark, slot) = e.getValue
      if (p(e.getKey, spark)) {
        it.remove()
        if (slot.built) {
          onDrop(slot.value)
          dropped += slot.value
        }
      }
    }
    dropped.result()
  }
}

object SessionMemo {

  /** One UUID per live session OBJECT (weak keys: a dropped session's id
    * is collectable with it). An identity hash code would not do: in a
    * long-lived JVM a new session can collide with a stopped one's code
    * and be served the dead session's value. `sessionUUID` itself sits
    * on the classic SparkSession subclass, not the public API type, so
    * we issue our own. */
  private val ids =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def sessionKey(spark: SparkSession): String =
    ids.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Per-key build latch: `lazy val` runs the build once under the
    * slot's own monitor, and an initializer that throws leaves the slot
    * unbuilt, so the next access re-attempts (Scala lazy-val
    * semantics). */
  private final class Slot[A](thunk: () => A) {
    @volatile var built = false
    lazy val value: A = { val v = thunk(); built = true; v }
  }
}
