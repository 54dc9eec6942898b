package graft

/** A memoized computation forced OUTSIDE the owning memo's monitor
  * (ADVICE r21: `materialized` ran a full Spark job inside
  * BoundedMemo.getOrElseUpdate, whose misses compute under the memo's
  * synchronized block — a multi-second materialization stalled every
  * concurrent hit AND miss on that memo, contradicting its "hit
  * latency is untouched" contract).
  *
  * Pattern: `memo.getOrElseUpdate(k, new LazyCell(compute)).value` —
  * the monitor only creates/returns the cell (cheap); the FIRST caller
  * to read `.value` runs the computation under the cell's own lazy-val
  * lock, so concurrent requests for the SAME key still wait for one
  * computation (never two persists of the same frame) while requests
  * for other keys proceed.
  *
  * `release` is for eviction hooks: releasing a pinned resource
  * (unpersist) must not FORCE a never-used cell just to release it.
  * A cell evicted before (or while) it is forced is marked instead,
  * and the force that computes it releases the fresh value right
  * after — its reader gets a recompute-on-action value, and nothing
  * stays pinned past the eviction. */
final class LazyCell[V](thunk: => V) {
  // not `this`: the lazy val holds the cell's monitor for the whole
  // computation, and an eviction hook must never wait on that
  private val lock = new Object
  private var forced = false
  private var pending: Option[V => Unit] = None

  lazy val value: V = {
    val v = thunk
    lock.synchronized { forced = true; pending }.foreach(f => f(v))
    v
  }

  def release(f: V => Unit): Unit =
    if (lock.synchronized { if (!forced) pending = Some(f); forced })
      f(value)
}
