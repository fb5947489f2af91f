package graft.core

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Owner of the intermediates an operator persists for intra-query branch
  * reuse, and the only code that persists or releases them.
  * [[CacheScope.keep]] persists at MEMORY_AND_DISK and registers the frame
  * with the scope open on the calling thread; `close()` unpersists what
  * that scope registered (blocking) and reopens the scope that was open
  * before it, so scopes nest:
  * {{{
  * Using.resource(CacheScope.open()) { _ => op(df).collect() }
  * }}}
  * Plans derived from a released frame keep working; they recompute
  * instead of reading cache. An operator that is done with a frame before
  * the query ends (a loop's superseded round) hands it back with
  * [[CacheScope.release]], a non-blocking unpersist that also drops the
  * frame from the scope, so `close()` does not touch it again. With no
  * scope open, `keep` is a plain `persist(MEMORY_AND_DISK)` and `release`
  * a plain `unpersist`.
  *
  * A plan already cached when `keep` runs stays with whoever cached it,
  * so neither `release` nor closing an inner scope ever drops an outer
  * scope's frames. The scope is per thread: operators call `keep` and
  * `release` on the thread that runs the query.
  */
final class CacheScope private (outer: Option[CacheScope])
    extends AutoCloseable {
  private val kept = mutable.ArrayBuffer.empty[Dataset[_]]
  private var live = true

  override def close(): Unit = if (live) {
    live = false
    try kept.foreach(_.unpersist(blocking = true))
    finally {
      kept.clear()
      CacheScope.current.set(outer)
    }
  }
}

object CacheScope {
  private val current = ThreadLocal.withInitial[Option[CacheScope]](() => None)

  /** opens a scope on this thread; the caller closes it */
  def open(): CacheScope = {
    val s = new CacheScope(current.get)
    current.set(Some(s))
    s
  }

  /** persists `ds` at MEMORY_AND_DISK; the open scope, if any, owns it */
  def keep[T](ds: Dataset[T]): Dataset[T] = {
    val owner = current.get.filter(_ => ds.storageLevel == StorageLevel.NONE)
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    owner.foreach(_.kept += ds)
    ds
  }

  /** unpersists `ds` now (non-blocking) if the open scope owns it, and
    * drops it from that scope; with no scope open, a plain `unpersist`
    */
  def release(ds: Dataset[_]): Unit = current.get match {
    case None => ds.unpersist(blocking = false)
    case Some(s) =>
      val i = s.kept.indexWhere(_ eq ds)
      if (i >= 0) s.kept.remove(i).unpersist(blocking = false)
  }
}
