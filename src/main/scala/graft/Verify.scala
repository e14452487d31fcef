package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing names: dump only that subset (local iteration; the
    // driver always runs the full catalog).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Overlap the per-query dumps from a small pool (optimization guide
    // §2.6, r20): the 253 dumps are independent actions — each writes its
    // own $outDir/$name directory — and running them sequentially left the
    // driver's correctness-gate wall equal to the SUM of every query's
    // straggler tail. Shared cross-query state is already concurrency-safe:
    // cachedArtifact holds a per-artifact lock, ModelQueries fixtures use
    // fresh temp dirs, and session-conf brackets (withBatchParallelism /
    // eagerRelease) only toggle values the declared results are invariant
    // to (the catalog gates identically at 4/8/32 shuffle partitions).
    // Failure stays per-query and loud (same stderr contract as the
    // sequential loop) — a thunk never throws, so one bad query cannot
    // abort the remaining dumps. Width 4 fills job tails without
    // multiplying peak memory; override with SPARK_GRAFT_VERIFY_PAR=1 to
    // reproduce the sequential wall.
    val width = parWidth(sys.env.get("SPARK_GRAFT_VERIFY_PAR"))
    graft.operators.Par.runUnit(
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, fn) => () =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        },
      maxThreads = width)
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
    spark.stop()
  }

  /** The dump pool width from `SPARK_GRAFT_VERIFY_PAR`: default 4,
    * clamped to >= 1; a non-integer warns and falls back to 4. */
  private[graft] def parWidth(raw: Option[String]): Int =
    raw.fold(4)(r => r.trim.toIntOption.fold {
      System.err.println(
        s"[verify] SPARK_GRAFT_VERIFY_PAR='$r' is not an integer; using 4")
      4
    }(math.max(1, _)))
}
