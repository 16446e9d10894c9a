package graft

import graft.table.CommitStore

import java.util.concurrent.atomic.AtomicBoolean

/** A [[CommitStore]] over `inner` that runs `race` once, just before the
  * first manifest put after [[arm]] reaches `inner` — so that put finds
  * its version slot taken by whatever `race` committed. The race is
  * injected at the seam it happens on in production: the store's
  * conditional put. `race` writes through handles on `inner` itself, so
  * its own puts never re-trigger it. */
final class RacingCommitStore(inner: CommitStore)(race: => Unit) extends CommitStore {
  private val armed = new AtomicBoolean(false)

  /** Fire `race` at the next manifest put. */
  def arm(): this.type = { armed.set(true); this }

  override def putIfAbsent(name: String, payload: Array[Byte]): Boolean = {
    if (name.startsWith("v") && armed.compareAndSet(true, false)) race
    inner.putIfAbsent(name, payload)
  }
  override def get(name: String): Option[Array[Byte]] = inner.get(name)
  override def list(): Seq[String] = inner.list()
  override def delete(name: String): Unit = inner.delete(name)
}
