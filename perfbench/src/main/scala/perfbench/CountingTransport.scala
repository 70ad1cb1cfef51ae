package perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.sinks.PortalTransport
import graft.sinks.PortalTransport.{PropertyBackup, Ref}

/** PortalTransport decorator at the NRT sink boundary: counts and times
  * every call, and observes each commit that flips an item's
  * `activeSlot` (the instant a refreshed dataset goes live). */
final class CountingTransport(inner: PortalTransport, counters: Counters,
    tracer: Tracer) extends PortalTransport {

  private val slot = new ConcurrentHashMap[String, String]()
  /** item id → System.nanoTime of its latest slot-flipping commit. */
  val flippedAt = new ConcurrentHashMap[String, java.lang.Long]()

  private def call[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      if (tracer.on) {
        counters.inc("portal.requests")
        counters.add("portal.request_s", (t1 - t0) / 1e9)
      }
      tracer.record(s"portal.$name", Layer.Sinks, t0, t1)
    }
  }

  override def findByTitle(title: String): Option[Ref] =
    call("findByTitle")(inner.findByTitle(title))
  override def searchByTags(tags: Seq[String], maxItems: Int): Seq[Ref] =
    call("searchByTags")(inner.searchByTags(tags, maxItems))

  override def addOrRetry(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int): Ref = call("addOrRetry") {
    val ref = inner.addOrRetry(title, itemType, tags, maxAttempts)
    // the add path renames on a title conflict: each rename is one retry
    if (ref.title != title && tracer.on) counters.inc("portal.retries")
    ref
  }

  override def props(itemId: String): Map[String, String] =
    call("props")(inner.props(itemId))

  override def update(itemId: String, props: Map[String, String]): Unit =
    call("update") {
      inner.update(itemId, props)
      props.get("activeSlot").foreach { s =>
        val before = slot.put(itemId, s)
        if (before != null && before != s) {
          flippedAt.put(itemId, System.nanoTime())
          if (tracer.on) counters.inc("portal.commits")
        }
      }
    }

  override def backupProperties(itemId: String): PropertyBackup =
    call("backupProperties")(inner.backupProperties(itemId))
  override def restoreProperties(itemId: String, backup: PropertyBackup): Unit =
    call("restoreProperties")(inner.restoreProperties(itemId, backup))
  override def listParts(itemId: String, slot: String): Seq[String] =
    call("listParts")(inner.listParts(itemId, slot))
  override def fetchPart(handle: String): Seq[String] =
    call("fetchPart")(inner.fetchPart(handle))
  override def publish(itemId: String): String = call("publish")(inner.publish(itemId))
  override def relate(originId: String, destId: String, unRelate: Boolean): Unit =
    call("relate")(inner.relate(originId, destId, unRelate))
  override def related(itemId: String): Seq[Ref] = call("related")(inner.related(itemId))
  override def touch(itemId: String, now: Long): Unit =
    call("touch")(inner.touch(itemId, now))
  override def replaceData(itemId: String, slot: String,
      files: Seq[java.nio.file.Path]): Unit =
    call("replaceData")(inner.replaceData(itemId, slot, files))
}
