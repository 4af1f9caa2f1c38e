package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Per-query resource lifecycle for the gate catalog.
  *
  * A [[QueryDef]] fn returns a LAZY DataFrame that the harness (Bench's
  * `.count()`, Verify's parquet write) evaluates only after the fn
  * returns — so a fn that caches/checkpoints intermediate state cannot
  * release it before returning without breaking its own evaluation.
  * Instead the fn registers the release here with [[defer]], and the
  * harness calls [[release]] once the result has been consumed.
  *
  * Why it matters: Bench runs a warmup pass plus two timed passes of the
  * whole catalog in ONE JVM. Without release, every `cache()`,
  * `localCheckpoint()` and memory-sink table from every query stays
  * resident in the block store for the session — measured in round 2 as a
  * 3-6x slowdown of the queries that happen to run late in the
  * alphabetical order (q16-q21), and a +45% total on unchanged plans.
  *
  * [[release]] also does a belt-and-braces sweep: clear the Dataset cache
  * registry and unpersist any RDD still pinned (localCheckpoint blocks do
  * not flow through the catalog cache, only through
  * `SparkContext.getPersistentRDDs`). Deferred actions run first so
  * contract-bearing cleanups (e.g. `Ingest.LoadResult.cleanup()`) execute
  * against live handles.
  */
object Lifecycle {

  private val deferred = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  /** Register a cleanup to run after the current query's result has been
    * consumed by the harness. Safe to call from any query fn; actions run
    * at most once, in registration order. */
  def defer(f: => Unit): Unit = deferred.add(() => f)

  /** Hooks observing every top-level [[deleteRecursively]] — registered
    * by caches keyed on on-disk paths (IndexStore's published-schema
    * pin) so an in-JVM delete-and-recreate of a dir re-infers instead of
    * serving the stale cached entry. Registration is
    * lazy-by-classload: a JVM that never loads the cache owner has
    * nothing to invalidate. */
  private val deleteHooks =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]
  def onDelete(hook: String => Unit): Unit = { deleteHooks.add(hook); () }

  /** Recursive delete of a scratch dir/file. The ONE implementation
    * shared by checkpoint, fixture and index cleanup (Drain, StAmortize,
    * ScaleSmoke, IndexStore) so null handling and any future hardening
    * live in one place. Fires [[onDelete]] hooks once per call, after
    * the tree is gone. */
  def deleteRecursively(f: java.io.File): Unit = {
    deleteTree(f)
    val p = f.getAbsolutePath
    deleteHooks.forEach { h => try h(p) catch { case NonFatal(_) => () } }
  }

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(); ()
  }

  /** Run deferred cleanups, then sweep all cached Datasets and any RDD
    * blocks still persisted (checkpoints). Failures are swallowed — a
    * cleanup must never fail the gate.
    *
    * The unpersist is BLOCKING: the async variant only enqueues the
    * removal, so a 127-query catalog pass stacks un-freed checkpoint
    * blocks from query N into query N+1's working set (round-13 churn
    * audit). Blocking costs <1 ms per block here and makes the release
    * a real barrier.
    *
    * No explicit driver GC follows the sweep: an A/B at the 128-query
    * catalog, sf0.1 (PLANS.md round 13) measured a GC per release as a
    * ~25% total regression, because a full GC unloads freshly compiled
    * generated classes between entries. */
  def release(spark: SparkSession): Unit = {
    var f = deferred.poll()
    while (f != null) {
      try f() catch { case NonFatal(_) => () }
      f = deferred.poll()
    }
    try spark.catalog.clearCache() catch { case NonFatal(_) => () }
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach { r =>
      try r.unpersist(blocking = true) catch { case NonFatal(_) => () }
    }
  }
}
