package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The frames of one iterative loop, and the one place a loop caches
  * a round, cuts its lineage and frees rounds it no longer reads:
  *   - [[keep]]: persist a round (MEMORY_AND_DISK) and hold it;
  *   - [[cut]]: eager localCheckpoint, then free every older frame
  *     (the cut's flat plan reads none of them);
  *   - [[settle]]: once an action materialized the newest frame, free
  *     every older one;
  *   - [[close]]: free everything held.
  * Only frames it created are freed, so a caller's cached input
  * survives, and they are freed as the loop moves on, not at the next
  * driver GC. A kept frame is freed through its CacheManager entry; a
  * cut through the RDD behind its checkpoint, after which it cannot
  * be read — an operator whose result still reads the loop does not
  * [[close]] (the harness reclaims the rest after a run). One
  * instance per loop; not thread-safe.
  */
final class LoopFrames {

  /** release actions of the held frames, oldest first */
  private val held = ArrayBuffer[() => Unit]()

  def keep(df: DataFrame): DataFrame = {
    val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += (() => kept.unpersist(blocking = false))
    kept
  }

  def cut(df: DataFrame): DataFrame = {
    // CP-OK: the one loop-state cut — a loop's lineage grows each
    // round and persist cannot bound plan depth; every call site
    // carries its own CP-OK saying why its frame may be pinned
    val cp = df.localCheckpoint()
    close()
    val rdd = cp.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case other => throw new IllegalStateException(
        s"localCheckpoint gave no LogicalRDD root: ${other.nodeName}")
    }
    held += (() => rdd.unpersist(blocking = false))
    cp
  }

  def settle(): Unit = free(survivors = 1)

  def close(): Unit = free(survivors = 0)

  /** free every held frame but the `survivors` newest */
  private def free(survivors: Int): Unit = {
    val n = held.length - survivors
    if (n > 0) {
      held.take(n).foreach(_())
      held.remove(0, n)
    }
  }
}
