package graft.catalog

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Registry of checkpoint RDD ids that intentionally OUTLIVE the query
  * that created them — the frames of the session memos
  * ([[Staging.memo]]: the setsim pair set, the trained k-means and PQ
  * codebooks) that "train once, serve from many queries" by design.
  *
  * Why it exists: Bench's between-query hygiene unpersists every
  * persistent RDD (dead localCheckpoint blocks are NOT covered by
  * `catalog.clearCache()` and otherwise pile up until driver GC —
  * measured at sf1, 200 queries of residue made late checkpoint-heavy
  * queries up to 65x slower in-bench than isolated). A blanket
  * unpersist, though, destroys the memoized frames' blocks, and a
  * localCheckpoint CANNOT be recomputed (lineage is truncated) — the
  * next query that reuses the memo dies with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. So `Staging.memo` registers the
  * checkpoint ids every Dataset it stores reads, and the hygiene pass
  * skips exactly those. A merely cached frame (e2b's LSH projection)
  * reads no checkpoint, so it is not pinned: hygiene evicts it and the
  * memo rebuilds it.
  *
  * `register` walks the ANALYZED plan, so it pins not only the frame's
  * own checkpoint but any intermediate checkpoint the frame still
  * references.
  */
object PinnedCheckpoints {
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** record every checkpoint RDD `df`'s plan reads; returns `df` */
  private[catalog] def register[T <: Dataset[_]](df: T): T = {
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => pinned.add(l.rdd.id)
      case _ => ()
    }
    df
  }

  def contains(rddId: Int): Boolean = pinned.contains(rddId)
}
