package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for OPERATOR-INTERNAL persists — the multi-consumer frames
  * a query pins so its plan subtrees don't re-expand per consumer (the
  * ts5 lesson). A `persist()` inside a query used to have no matching
  * `unpersist()`: the InMemoryRelation outlived the query, leaked into
  * later plans in the same session (plan-contract tests saw cached
  * subtrees substitute for the scans they pin), and was only reclaimed
  * by the harness's blanket `cacheManager.clearCache()`.
  *
  * Every internal persist routes through [[persist]] (which also owns
  * the idempotence guard), and the completion point — Verify's write,
  * Bench's timed collect, each spec's `afterEach` — calls [[drain]]:
  * the registry-level unpersist the round-13 review asked for.
  * Draining an already-cleared frame is a no-op, so the blanket
  * clearCache in the harness stays harmless belt-and-braces.
  *
  * SCOPING (round 16 — the begin()-token API the round-15 contract
  * doc promised): registrations land in the CURRENT scope, a
  * thread-inherited [[Token]]. The harness's serial
  * run-query-then-drain loop never calls [[begin]] and uses the
  * root scope — zero behavior change. A concurrent-serving caller
  * gives each query thread its own scope (`val t = CacheScope.begin()`
  * before composing the query, `CacheScope.drain(t)` at its
  * completion point): two queries in flight on separate threads can
  * no longer unpersist each other's frames at their own drain points
  * (CacheScopeSpec pins two interleaved scopes). On a SINGLE thread a
  * begin() supersedes the previous scope until that token drains —
  * interleaving two queries' plan CONSTRUCTION on one thread is
  * inherently unattributable, and the per-thread rule is exactly what
  * a serving pool provides.
  *
  * Deliberately NOT drained here: persists with an explicit paired
  * `unpersist()` in their own operator (d13's pair persist) and
  * streaming `foreachBatch` persists that unpersist at batch end —
  * those already complete their own lifecycle. */
object CacheScope {

  /** One query's registration scope — opaque; obtain via [[begin]],
    * release via [[drain(token*]]. */
  final class Token private[CacheScope] () {
    private[CacheScope] val frames =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  }

  /** The default scope for serial callers (the harness) that never
    * begin() — the process-global queue the round-15 contract
    * documented, now just the root token. */
  private val rootToken = new Token()

  /** The current scope, inherited by child threads so a query's
    * internal parallelism registers into its own scope. */
  private val current = new InheritableThreadLocal[Token]() {
    override def initialValue(): Token = rootToken
  }

  /** Open a fresh scope on this thread and make it current. The
    * caller owns the token and MUST [[drain(token*]] it at the
    * query's completion point. */
  def begin(): Token = {
    val t = new Token()
    current.set(t)
    t
  }

  /** Persist `df` (if not already persisted) and register it with the
    * current scope. Returns `df` for chaining. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      current.get().frames.add(df)
      ()
    }
    df
  }

  /** Unpersist every frame registered with `token` since its begin()
    * (or last drain). Blocking is unnecessary: the next query's plans
    * only care that the registration is gone from the cache manager.
    * If `token` is still this thread's current scope, the thread
    * falls back to the root scope. */
  def drain(token: Token): Unit = {
    var df = token.frames.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = token.frames.poll()
    }
    if (current.get() eq token) current.set(rootToken)
  }

  /** Drain this thread's current scope — the serial harness's (and
    * every spec's) completion call, unchanged in behavior. */
  def drain(): Unit = drain(current.get())
}
