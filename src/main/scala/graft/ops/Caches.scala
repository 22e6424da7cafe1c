package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** The one registry of caches whose consumers are LAZY: a DataFrame an
  * op returns still reads them after the op returns (the LSH candidate
  * list, the simhash signature table, a loop's final round, the
  * per-customer RFM table, ...). They cannot be unpersisted inside the
  * op without recomputing the pipeline per consumer or re-running an
  * iterative loop on first consumption, so each is registered here and
  * freed by [[releaseAll]] once the result has been consumed (written /
  * collected) — `Verify`/`Bench` call it between queries. A long-lived
  * session stays bounded: at most one op's worth of (never corpus-sized)
  * cache is alive at a time. Eagerly-materialized intermediates (each
  * earlier cut of a [[Loop]]) are unpersisted inline and never reach
  * this registry.
  *
  * Releasing frees EVERY registered cache, whichever op made it. No
  * registered cache is localCheckpointed or holds a nondeterministic
  * expression, so freeing one early costs a recompute, never a
  * different result.
  */
object Caches {

  private val live = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def register[T](df: Dataset[T]): df.type =
    synchronized { live += (() => { df.unpersist(blocking = false); () }); df }

  def register[T](rdd: RDD[T]): rdd.type =
    synchronized { live += (() => { rdd.unpersist(blocking = false); () }); rdd }

  /** Free every cache registered since the last release. */
  def releaseAll(): Unit = synchronized {
    live.foreach(_.apply())
    live.clear()
  }
}
