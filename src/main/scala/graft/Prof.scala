package graft

/** Ad-hoc profiling main (never part of the driver contract).
  *
  *   runMain graft.Prof q1 q2 ...   — time the named inventory queries on
  *     SPARK_GRAFT_SF_DIR (default sf0.1) through the noop sink, and print a
  *     per-JOB breakdown (duration, task count, description) for each, so a
  *     multi-statement lineage (DML, streaming twins) shows WHERE its wall
  *     time goes — the spark.ui is off in this sandbox, this is the
  *     equivalent of the Jobs tab (optimization guide §1.5/§7.1).
  */
object Prof {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Prof q1 q2 ...")
      return
    }
    val spark = Plans.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Per-job accounting: description + wall duration + task count. Spark
    // stamps each job with the SQL text / caller description, so a lineage
    // query's jobs attribute themselves to their statements.
    case class JobRec(id: Int, desc: String, sec: Double, tasks: Int)
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    // SQL-execution descriptions: a job launched by a SQL execution carries
    // only the execution ID in its properties; the human-readable statement
    // text arrives on the listener bus in SQLExecutionStart. Map one to the
    // other so a multi-statement lineage attributes each job to its
    // statement (guide §1.5 labeling, without touching the query paths).
    val sqlDescs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            sqlDescs.put(s.executionId, s.description)
          case _ => ()
        }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        // Label preference: explicit job description > SQL statement text
        // (via execution id) > action call site > final stage name.
        val d = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(sqlDescs.get(id.toLong))))
          .filter(_.nonEmpty)
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        started.put(js.jobId, (d, js.time, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(started.remove(je.jobId)).foreach { case (d, t0, n) =>
          finished.add(JobRec(je.jobId, d, (je.time - t0) / 1e3, n))
        }
      }
    })
    def drainJobs(): Seq[JobRec] = {
      val b = Seq.newBuilder[JobRec]
      var r = finished.poll()
      while (r != null) { b += r; r = finished.poll() }
      b.result()
    }

    def time(name: String)(f: => Unit): Unit = {
      drainJobs()
      val t0 = System.nanoTime(); f
      val wall = (System.nanoTime()-t0)/1e9
      Thread.sleep(50) // let the listener bus drain
      val jobs = drainJobs()
      println(f"PROF $name $wall%.2f s  (${jobs.size} jobs, ${jobs.map(_.sec).sum}%.2f s summed)")
      jobs.groupBy(_.desc.replaceAll("\\s+", " ").take(90))
        .map { case (d, js) => (js.map(_.sec).sum, js.size, d) }
        .toSeq.sortBy(-_._1).take(24)
        .foreach { case (sec, n, d) =>
          println(f"  GRP $sec%7.3f s ($n%2d jobs)  $d")
        }
    }
    val docs = Tables(spark, dir, "documents")
    time("warmup")(docs.write.format("noop").mode("overwrite").save())
    args.foreach { name =>
      time(name)(SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
