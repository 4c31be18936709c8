package graft.functions

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry of unpersist handles for caches created inside operators
  * that return a LAZY frame depending on the cache — the handle can't
  * run before the caller consumes the frame, and the convenience
  * wrappers (`SimHashFamily.calibratedPairs`,
  * `EmbedNearDup.calibratedPairs`, the `Curation` stages) have no way
  * to hand it back. [[persist]] is the common case: persist a frame
  * and lease its unpersist.
  *
  * Two lifetimes (round 19 added scopes — VERDICT r18 #6):
  *
  *  - SESSION leases (the default): handles land on a global queue;
  *    harness loops (Bench, Verify) and long-lived sessions call
  *    [[releaseAll]] at each between-queries point (alongside or
  *    instead of `spark.catalog.clearCache()`). A long-lived session
  *    composing many pipelines WITHOUT a drain point accumulates
  *    pinned frames — that session should use scopes.
  *  - SCOPED leases: [[scoped]] runs a pipeline-construction body
  *    with a fresh [[Scope]] active on the calling thread; every
  *    lease registered during it lands on that scope instead of the
  *    global queue, and `scope.release()` — called once the
  *    pipeline's (possibly lazy) result has been consumed — drains
  *    exactly those leases, never another pipeline's. [[withScope]]
  *    is the eager form for bodies that fully consume their result.
  *
  * Handles are idempotent `unpersist` closures, so a drain racing a
  * concurrent register is safe — the late handle just waits for the
  * next drain.
  *
  * Thread affinity (round 20 — VERDICT r19 #3): scope activation is
  * an `InheritableThreadLocal`, so threads SPAWNED inside a `scoped`
  * body (parallel pipeline construction, an ad-hoc `Future` on a
  * fresh thread) inherit the active scope and their leases land on
  * it. Threads that existed BEFORE the scope opened — pooled
  * executors, Structured Streaming's `foreachBatch` micro-batch
  * thread — inherit nothing; code running there must register on an
  * explicitly-passed scope via [[Scope.register]] (leases it sends
  * through the module-level [[register]] land on the session-global
  * queue, recoverable by [[releaseAll]], never lost).
  *
  * Failure safety (round 20 — ADVICE r19): if a `scoped`/`withScope`
  * body THROWS, every lease it registered so far is spilled back onto
  * the session-global queue before the exception propagates, so
  * [[releaseAll]] recovers them — a scope lost with its exception can
  * no longer pin frames for the session lifetime.
  */
object PersistLeases {
  private val leases = new ConcurrentLinkedQueue[() => Unit]()
  private val active = new InheritableThreadLocal[Scope]()

  /** A pipeline-lifetime lease holder: drains its own leases on
    * [[release]] without touching the global queue or other scopes.
    */
  final class Scope private[PersistLeases] () {
    private[PersistLeases] val handles = new ConcurrentLinkedQueue[() => Unit]()
    // Closed once released or spilled (ADVICE r20 medium): a thread
    // spawned inside `scoped{}` keeps the inherited Scope reference
    // after the body exits — a lease it registers after release()
    // would land on a queue nothing drains again. The flag redirects
    // such late registrations to the session-global queue, where
    // releaseAll() recovers them (the pre-r20 behavior for threads
    // with no scope).
    @volatile private[PersistLeases] var closed = false

    /** Register a handle directly on THIS scope — the explicit variant
      * for threads that did not inherit it (pre-existing pool threads,
      * e.g. a streaming `foreachBatch` body): pass the scope in and
      * call this instead of the thread-inferred module [[register]].
      * A handle arriving after the scope was released/spilled goes to
      * the session-global queue instead (recoverable, never pinned).
      */
    def register(release: () => Unit): Unit = {
      if (closed) { leases.add(release); () }
      else {
        handles.add(release)
        // add/close race: if the scope closed while we enqueued, its
        // drain may have already passed this handle — move whatever
        // is still queued to the global queue (poll is atomic, so a
        // handle reaches exactly one queue; handles are idempotent).
        if (closed) {
          var h = handles.poll()
          while (h != null) { leases.add(h); h = handles.poll() }
        }
        ()
      }
    }

    /** Drain and run this scope's handles (oldest first). Idempotent —
      * handles run once; a second release is a no-op. Marks the scope
      * closed: later registrations divert to the session-global queue.
      */
    def release(): Unit = {
      closed = true
      var h = handles.poll()
      while (h != null) { h(); h = handles.poll() }
    }

    /** Move every pending handle onto the session-global queue (used
      * when the constructing body throws: the handles stay reachable
      * by [[releaseAll]] instead of dying with the scope). Marks the
      * scope closed, like [[release]].
      */
    private[PersistLeases] def spillToGlobal(): Unit = {
      closed = true
      var h = handles.poll()
      while (h != null) { leases.add(h); h = handles.poll() }
    }

    /** Leases currently held by this scope (test observability). */
    def pending: Int = handles.size()
  }

  /** Register an unpersist handle: on the calling thread's active
    * [[Scope]] when one is open, else on the session-global queue.
    */
  def register(release: () => Unit): Unit = {
    val s = active.get()
    if (s != null) s.register(release) // diverts to global if s closed
    else { leases.add(release); () }
  }

  /** Persist `df` and [[register]] its non-blocking unpersist — the
    * caching pattern for code that reads a frame more than once but
    * returns a lazy result with no cleanup handle (`DataFrame =>
    * DataFrame` stages, registry queries). The lease lands on the
    * calling thread's active [[Scope]] when one is open, else on the
    * session queue drained by [[releaseAll]].
    */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    register(() => { p.unpersist(blocking = false); () })
    p
  }

  /** The scope active on the calling thread, if any — for handing to
    * pre-existing pool threads (which inherit nothing) so they can
    * [[Scope.register]] explicitly.
    */
  def currentScope: Option[Scope] = Option(active.get())

  /** Run `body` with a fresh scope capturing every lease registered
    * on this thread (and threads it spawns) during it; returns
    * (result, scope). The caller invokes `scope.release()` once the
    * (possibly lazy) result has been consumed. Nesting restores the
    * enclosing scope on exit. If `body` throws, the scope's leases
    * are spilled to the session-global queue (recoverable by
    * [[releaseAll]]) before the exception propagates.
    */
  def scoped[T](body: => T): (T, Scope) = {
    val s = new Scope
    val prev = active.get()
    active.set(s)
    try (body, s)
    catch {
      case t: Throwable =>
        s.spillToGlobal()
        throw t
    } finally {
      if (prev == null) active.remove() else active.set(prev)
    }
  }

  /** [[scoped]] with an immediate drain — for bodies that fully
    * consume their result (end in an action or a write) before
    * returning.
    */
  def withScope[T](body: => T): T = {
    val (r, s) = scoped(body)
    s.release()
    r
  }

  /** Drain and run every SESSION-scoped handle (oldest first). Leases
    * held by open [[Scope]]s are their owners' to release.
    */
  def releaseAll(): Unit = {
    var h = leases.poll()
    while (h != null) { h(); h = leases.poll() }
  }

  /** Number of currently-held session leases (test observability). */
  def pending: Int = leases.size()
}
