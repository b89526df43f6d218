package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // correctness gate runs WITH the Catalyst extensions enabled, so
      // the custom range-join execs and the band-join rewrite are what
      // the DuckDB oracle actually checks
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries run through a small fixed driver-side thread pool (guide
    // §2.6 overlap independent jobs): each query is an independent job
    // writing its own output directory, and at verify's scale factor
    // every query is latency/driver-bound, so serial wall-clock is
    // ~n_queries × fixed overhead. Concurrency changes NO output:
    //   - per-query parquet dirs never collide;
    //   - scratch index paths shared between queries (unigram model,
    //     serve indexes) are build-if-missing FULL publishes, which
    //     IndexIO's concurrent-writer contract makes last-wins with
    //     both versions complete and deterministic-identical content;
    //   - job descriptions/groups are thread-local in Spark.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
      .max(1)
    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val futures = work.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setJobDescription(s"verify: $name")
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            e.getStackTrace.take(8).foreach(f => System.err.println(s"    at $f"))
            // loud failure: leave a sentinel where the result parquet would
            // be, so the driver's compare reports this query as `err`
            // instead of silently omitting it (a throwing query must show
            // up red, not absent, in CORRECTNESS_r{N})
            val d = new java.io.File(s"$outDir/$name")
            d.mkdirs()
            Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"),
              s"${e.getClass.getName}: ${e.getMessage}\n")
          }
        }
      })
    }
    // the pool's threads are non-daemon: a throwing get() must not
    // leave them holding the JVM open
    try futures.foreach(_.get()) finally pool.shutdown()
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
}
