package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scaffolding shared by the queries that drive file-based jobs: scratch
  * dirs reclaimed at JVM exit, inputs staged once per sfDir, and the
  * session-conf pins around streaming runs.
  */
private[graft] object QueryHarness {

  /** Best-effort recursive cleanup of a temp dir at JVM exit (the staged
    * inputs and each run's out/ckpt dirs — bounded: one staging dir per
    * (kind, sfDir) plus one small dir per invocation, all reclaimed on
    * exit).
    */
  private def deleteRecursivelyOnExit(p: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.Files
      import scala.util.Try
      Try {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Try(Files.delete(f)); () })
        finally walk.close()
      }
      ()
    }))

  /** A fresh temp dir, removed at JVM exit. */
  private[queries] def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    deleteRecursivelyOnExit(p)
    p
  }

  private val stagedDirs =
    scala.collection.mutable.Map.empty[(String, String), String]

  /** The input `write` stages into the returned path, written ONCE per
    * (kind, sfDir) per JVM: repeated runs time the engine path under
    * test, not the staging. synchronized: getOrElseUpdate alone may run
    * the staging write twice under concurrent callers (the harnesses
    * are sequential, but the facade makes no such promise).
    */
  private[queries] def staged(kind: String, sfDir: String)(write: String => Unit): String =
    stagedDirs.synchronized {
      stagedDirs.getOrElseUpdate((kind, sfDir), {
        val in = s"${tempDir(s"graft-$kind-in")}/in"
        write(in)
        in
      })
    }

  /** Runs a streaming `job(out, ckpt)` into a fresh temp dir and returns
    * what its sink wrote to `out`. The job runs with the shuffle
    * partitions pinned to 8, plus any extra `confs` (e.g. a state-store
    * provider): a stateful job's state-store count is the shuffle
    * partition count at the checkpoint's first batch, and each state
    * partition costs snapshot/commit files per micro-batch. 8 fits the
    * testdata corpora; a 100 TB deployment would set hundreds, via the
    * same knob, at job launch.
    */
  private[queries] def drained(spark: SparkSession, prefix: String,
      confs: (String, String)*)(job: (String, String) => Unit): DataFrame = {
    val base = tempDir(prefix)
    val out = s"$base/out"
    withConf(spark, ("spark.sql.shuffle.partitions" -> "8") +: confs: _*) {
      job(out, s"$base/ckpt")
    }
    spark.read.parquet(out)
  }

  /** Runs `body` with the session conf `pins` set, then restores each key
    * to exactly its prior state (unset stays unset). The pins are per-job
    * sizing decisions — e.g. shuffle partitions fix the state-store count
    * a new checkpoint is created with, so a streaming job sizes it to its
    * state volume, not to the interactive session's OLAP width. The conf
    * is session-global, so every pin runs under this one lock: safe as
    * long as no OTHER thread runs queries concurrently on the shared
    * session (the verify/bench harnesses are sequential).
    */
  def withConf[T](spark: SparkSession, pins: (String, String)*)(body: => T): T =
    synchronized {
      val prev = pins.map { case (k, _) => k -> spark.conf.getAll.get(k) }
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
