package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each declared query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (builder iteration
    // on one query without the full dump); absent = run everything. Every
    // name must be declared ([[SparkEntry.queryFilter]])
    val only: Option[Set[String]] = args.lift(2).map(SparkEntry.queryFilter)
    val spark = GraftEngine.session(GraftEngine.harnessCores, "graft-verify",
      GraftEngine.SuiteJoinPlanning ++ GraftEngine.StatusStoreCaps)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    // family order via the SHARED cache-lifecycle loop (one definition with
    // Bench — round-5 review: two hand-maintained copies of the boundary
    // rule would let timings drift from the discipline correctness ran under)
    SparkEntry.foreachOrdered { (name, fn) =>
      if (!only.forall(_.contains(name))) ()
      // plain parallel write — the comparator reads the whole directory and
      // sorts rows itself, so funneling each result through one task via
      // coalesce(1) bought nothing and serialized the dump at sf1+ (r5 item 6)
      else try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must leave NO parquet behind: stale output from a
        // previous run would let the DuckDB compare silently validate old
        // results and mask the regression (r5 review)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
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
    // keyed render (verdict r10 #2): export paths are pure functions of
    // (sfDir, config) and the tuned probe resolves itself, so the dump is
    // correct regardless of which queries ran above. A FILTERED builder run
    // dumps only its filtered oracles (review r11): the comparator then
    // checks exactly what was produced, and rendering skips the tuner's
    // index build when ivf_tuned_probe wasn't selected.
    val json = SparkEntry.oracleSqlFor(spark, sfDir, only)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
