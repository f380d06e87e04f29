package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The one per-session memo: every value graft keeps between queries
  * (stored indexes, the persisted pair set, the SQL-door views, each
  * Engine's in-memory relations, fitted models, the parquet schemas) is
  * held per (session, key) and rebuilt when its `version` (the data
  * dir, a file version, the Engine) changes. Replacing or clearing an
  * entry runs its `release`. [[graft.clearCaches]] is [[clear]], so a
  * new memo is released there by construction.
  *
  * A build runs under its own key's lock, not inside the map's
  * `compute`: builds nest (a stored index reads its tables through the
  * schema memo), and a nested `compute` on one map fails. Builds nest
  * only artifact → schema, so locks are taken in one order. Concurrent
  * callers of one key build once; a build that throws holds nothing, so
  * the next call builds again.
  */
private[graft] object SessionMemo {
  private final class Slot {
    var version: Any = _
    var value: Any = _
    var release: Any => Unit = _ // null while the slot holds nothing
    var dropped = false
  }

  private val slots = new ConcurrentHashMap[(SparkSession, String), Slot]
  private val built = new AtomicLong

  /** Builds run in this JVM so far: a hit leaves it unchanged. */
  def builds: Long = built.get

  def apply[T](s: SparkSession, key: String, version: Any)(build: => T): T =
    apply(s, key, version, (_: T) => ())(build)

  def apply[T](s: SparkSession, key: String, version: Any,
               release: T => Unit)(build: => T): T = {
    val k = (s, key)
    val got = slots.get(k)
    val slot = if (got != null) got else slots.computeIfAbsent(k, _ => new Slot)
    val v = slot.synchronized {
      if (slot.dropped) null
      else {
        if (slot.release == null || slot.version != version) {
          if (slot.release != null) slot.release(slot.value)
          slot.release = null
          slot.value = build
          built.incrementAndGet()
          slot.version = version
          slot.release = release.asInstanceOf[Any => Unit]
        }
        slot.value
      }
    }
    // a slot dropped by a concurrent clear is out of the map: use a new one
    if (v == null) apply(s, key, version, release)(build) else v.asInstanceOf[T]
  }

  /** The keys `s` holds a value for. */
  def keys(s: SparkSession): Set[String] = {
    val held = Set.newBuilder[String]
    slots.forEach { (k, slot) =>
      if ((k._1 eq s) && slot.synchronized(slot.release != null)) held += k._2
    }
    held.result()
  }

  /** Release and drop every entry of `s`. */
  def clear(s: SparkSession): Unit =
    slots.forEach { (k, slot) =>
      if ((k._1 eq s) && slots.remove(k, slot)) slot.synchronized {
        if (slot.release != null) slot.release(slot.value)
        slot.release = null
        slot.value = null
        slot.dropped = true
      }
    }

  private val tempDirs = new ConcurrentLinkedQueue[String]
  private lazy val deleteAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach(p => deleteRecursively(new java.io.File(p)))))

  /** A new temp directory, deleted at JVM exit and never earlier: a
    * caller may still hold an unmaterialized frame that scans it after
    * its memo entry was replaced or cleared. */
  def tempDir(prefix: String): String = {
    deleteAtExit
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(p)
    p
  }
}
