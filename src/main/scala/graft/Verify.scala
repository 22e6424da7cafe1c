package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: dump only the named queries (dev loop; the
    // driver always passes exactly two args and gets the full sweep)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's deployment route: custom expressions + the
      // strength-reduction optimizer rule ride every session
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free every cache the ops registered for this query — the
      // long-lived-session hygiene contract (bounded cache footprint)
      graft.ops.Caches.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Sketch error-band evidence for the two no-oracle queries: the
    // driver's artifact otherwise records only a rows-only check for
    // them. Written to outDir, to the repo cwd, and self-archived per
    // round (round = latest driver CORRECTNESS_r{N} + 1, the bench's
    // archiving convention) so the bound check is part of the round's
    // verification record. Full sweeps only — the dev loop (named-query
    // args) skips it.
    if (only.isEmpty) {
      try {
        val sketch = graft.tools.SketchBounds.reportJson(spark, sfDir) + "\n"
        Files.writeString(Paths.get(s"$outDir/sketch_bounds.json"), sketch)
        Files.writeString(Paths.get("SKETCH_BOUNDS.json"), sketch)
        val round = graft.tools.Rounds.next("CORRECTNESS_r")
        Files.writeString(Paths.get(f"SKETCH_BOUNDS_r$round%02d.json"), sketch)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] sketch bounds failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
