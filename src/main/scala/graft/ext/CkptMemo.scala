package graft.ext

import org.apache.spark.sql.DataFrame

/** Bounded LRU memo for localCheckpoint'd result frames (shared by
  * [[Dedup]] and [[Similarity]]). An unbounded map keyed by
  * (session, dir) would strongly retain every checkpointed RDD — and its
  * SparkSession — forever in a long-lived multi-session application
  * (e.g. a thrift server with the GraftExtensions injector).
  *
  * Eviction only drops the memo's reference. It does NOT unpersist the
  * evicted entry's checkpoint RDD: `getOrElseUpdate` hands the DataFrame
  * to callers, who may legitimately retain it past 64 later insertions —
  * a LogicalRDD has no lineage, so an eager unpersist would make every
  * retained copy fail permanently ("checkpoint block not found"). Once
  * callers drop their references too, GC collects the RDD and Spark's
  * ContextCleaner unpersists its blocks — the reclamation path that is
  * safe against aliasing. A later request for an evicted key rebuilds.
  *
  * Sized well above any single session's working set, so it never
  * evicts during Verify/Bench — it is the unbounded-growth guardrail, not
  * a hot cache policy (the test JVM's SplitFamilyOrderSpec opens 23
  * sessions and does evict; later requests rebuild). An eviction is
  * WARN-logged (slf4j `graft.CkptMemo`) and counted in `evictions`, so
  * a run that outgrows the cap says so.
  *
  * Builds run OUTSIDE the map's monitor (per-key cells): concurrent
  * sessions memoizing distinct keys — e.g. two thrift-server queries each
  * materializing their own dedup pipeline — build in parallel; only
  * same-key callers block on one build.
  */
private[graft] class CkptMemo(maxEntries: Int) {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.CkptMemo")

  /** The build runs under the cell's monitor, not the memo's: another
    * thread asking for the key waits for it. The monitor is reentrant,
    * so the cell records its building thread and a same-thread request
    * (a build that asks for its own key) fails at once, naming the key,
    * instead of recursing until the stack overflows. */
  private final class Cell(key: Any, build0: () => DataFrame) {
    private var built: DataFrame = null
    private var builder: Thread = null
    def value: DataFrame = synchronized {
      if (builder eq Thread.currentThread())
        throw new IllegalStateException(s"the memo build of $key requested " +
          "its own key (a memo keyed like one of its own inputs)")
      if (built == null) {
        builder = Thread.currentThread()
        try built = build0() finally builder = null
      }
      built
    }
  }

  private val m =
    new java.util.LinkedHashMap[Any, Cell](16, 0.75f, /*accessOrder=*/ true)
  private var evicted = 0L

  /** Entries dropped at the cap so far. Eviction means a later request
    * for that key pays its build again, so every one is also WARN-logged
    * with its key — the memo never degrades silently. */
  def evictions: Long = synchronized(evicted)

  def getOrElseUpdate(key: Any, build: => DataFrame): DataFrame = {
    val cell = synchronized {
      val hit = m.get(key)
      if (hit != null) hit
      else {
        val c = new Cell(key, () => build)
        m.put(key, c)
        if (m.size > maxEntries) {
          val it = m.entrySet().iterator()
          val eldest = it.next().getKey
          it.remove() // drop reference only; ContextCleaner reclaims blocks
          evicted += 1
          log.warn(s"evicted $eldest at the $maxEntries-entry cap " +
            s"($evicted evictions so far); a later request rebuilds it")
        }
        c
      }
    }
    try cell.value
    catch { case e: Throwable => // never cache a failed build
      synchronized { if (m.get(key) eq cell) m.remove(key) }
      throw e
    }
  }
}

/** The process-wide memo [[Dedup]] and [[Similarity]] share. */
private[graft] object CkptMemo extends CkptMemo(maxEntries = 64)
