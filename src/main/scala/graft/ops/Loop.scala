package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** The one iteration kernel behind the engine's driver loops
  * ([[Dedup.connectedComponents]], [[Similarity.kmeansTrain]],
  * [[TextOps.bpeTrainBatched]] and the four [[Graph]] loops). A `Loop`
  * is ONE iterated lineage — a round state rebuilt from its own previous
  * value — and holds at most one materialized cut of it:
  *
  *   - [[cut]] materializes a round through a persisted row RDD and
  *     rebuilds the DataFrame on it, in ONE Spark job that also folds
  *     the caller's statistic (a row count, a label sum, a max
  *     movement), then frees the lineage's previous cut — round k−1's
  *     blocks are dead once round k is materialized;
  *   - [[keep]] registers the surviving cut with [[Caches]] (the op's
  *     result reads it lazily); [[Loop.refuse]] frees every cut and
  *     throws instead.
  *
  * Why cut: a round whose plan reads its predecessor more than once
  * (CC's self-join, k-means' three reads, the k-core anti-join) grows
  * its logical plan geometrically, so by round k Catalyst re-analyzes
  * that many copies of the upstream pipeline — planning, not
  * execution, dominates. Why a row-RDD round-trip and not
  * `localCheckpoint`: the checkpoint's LogicalRDD carries origin
  * constraints from join lineage that Spark 4.1 fails to rewrite on
  * self-join re-instancing (`NoSuchElementException: key not found` in
  * the optimizer); a DataFrame rebuilt on the row RDD carries no origin
  * metadata. MEMORY_AND_DISK: a round can exceed memory, and spilling
  * beats recomputing its lineage.
  *
  * When to cut stays with the caller: connected components, k-means and
  * BPE cut every round; the graph ops cut every 5th round, never the
  * last, because at their usual 3 rounds an uncut plan runs as fewer
  * jobs and shuffles.
  */
private[ops] final class Loop {
  private var held: RDD[Row] = null

  /** Cut `df` and count its rows in the materializing job. */
  def cut(df: DataFrame): (DataFrame, Long) = cut(df, 0L)((n, _) => n + 1L, _ + _)

  /** Cut `df`, folding `add`/`merge` from `zero` over its rows in the
    * materializing job; frees this lineage's previous cut.
    */
  def cut[A: ClassTag](df: DataFrame, zero: A)(add: (A, Row) => A,
      merge: (A, A) => A): (DataFrame, A) = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val stat = rdd.aggregate(zero)(add, merge)
    free()
    held = rdd
    (df.sparkSession.createDataFrame(rdd, df.schema), stat)
  }

  /** The loop's starting state, cut WITHOUT a job of its own: the first
    * round's job materializes it (BPE's canonical corpus, which that job
    * reads anyway).
    */
  def start(df: DataFrame): DataFrame = {
    held = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    df.sparkSession.createDataFrame(held, df.schema)
  }

  /** Hand the surviving cut to [[Caches]]: the result still reads it. */
  def keep(): Unit = { if (held != null) Caches.register(held); held = null }

  /** Free the held cut now. */
  def free(): Unit = { if (held != null) held.unpersist(blocking = false); held = null }
}

private[ops] object Loop {
  /** Refuse a result: free every lineage's cut, then fail loudly. */
  def refuse(msg: String, loops: Loop*): Nothing = {
    loops.foreach(_.free())
    throw new IllegalStateException(msg)
  }
}
