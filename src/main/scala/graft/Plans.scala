package graft
import org.apache.spark.sql.SparkSession

/** Plan-dump tool over the inventory queries (not one of the `Verify`,
  * `Bench`, `Smoke` entry points), run on the fixtures under
  * SPARK_GRAFT_SF_DIR:
  *
  *   runMain graft.Plans explain q1 q2 ...  — print each query's
  *     `explain("formatted")` (pushdown, pruning, join strategy);
  *   runMain graft.Plans dump <outDir> <suffix> q1 q2 ...  — write it to
  *     <outDir>/<q>_<suffix>.txt, the optimization-round evidence
  *     artifacts (plans/r15/<q>_{before,after}.txt);
  *   runMain graft.Plans scan  — list the registry queries whose executed
  *     plan holds 5 or more parquet scans and generators, with their
  *     reused-exchange counts.
  *
  * For a multi-statement lineage query the plan is the final SELECT
  * (constructing the DataFrame runs the lineage); the statement-level
  * evidence for those lives in `graft.Prof`'s job breakdowns. */
object Plans {

  /** The local session the tool mains (`Plans`, `Prof`, `Demo`,
    * `ScaleRehearsal`) run on: `SPARK_GRAFT_CPUS` local threads (the Bench
    * knob, default 32), 32 shuffle partitions. The thread count lets a
    * memory-bounded run keep a production-shaped heap-per-core ratio — a
    * 4g heap across 32 local threads is 128 MB/core, an order under any
    * real executor config. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def plan(name: String): String = SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    args.toList match {
      case "explain" :: names =>
        names.foreach { name => println(s"===== $name =====\n${plan(name)}") }
      case "dump" :: outDir :: suffix :: names =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          try {
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
              plan(name).getBytes("UTF-8"))
            println(s"[plans] wrote ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            println(s"[plans] $name FAILED: ${e.getMessage}")
          }
        }
      case "scan" :: Nil =>
        SparkEntry.registry.foreach { q =>
          try {
            val p = q.fn(spark, dir).queryExecution.executedPlan.toString
            val scans = "Scan parquet".r.findAllIn(p).size
            val reused = "ReusedExchange".r.findAllIn(p).size
            val gens = "Generate".r.findAllIn(p).size
            if (scans + gens >= 5)
              println(s"PLANSCAN ${q.name} scans=$scans generates=$gens reused=$reused")
          } catch { case e: Throwable => println(s"PLANSCAN ${q.name} ERR ${e.getMessage}") }
        }
      case _ =>
        System.err.println("usage: graft.Plans explain q1 ... | " +
          "dump <outDir> <suffix> q1 ... | scan")
    }
    spark.stop()
  }
}
