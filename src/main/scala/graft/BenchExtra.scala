package graft

/** Iteration-aid bench (guide §1.4): time an explicit SUBSET of the
  * declared queries with the noop sink, min-of-reps, in a session
  * configured exactly like `Bench.newSession` (`graft.Session`).
  * Optionally dumps `.explain("formatted")` per query for the plans/r06
  * evidence files.
  *
  * This main is ADDITIVE — `Bench.scala` / `Verify.scala` are frozen for
  * measurement; numbers cited from here are labelled as BenchExtra runs
  * in OPTIMIZATION_r06.md.
  *
  * Usage: sbt "runMain graft.BenchExtra p151_graph_insert_recall p145_graph_descent_recall"
  *   env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (local[N]),
  *        SPARK_GRAFT_QUERY_REPS (default 3),
  *        SPARK_GRAFT_EXPLAIN_DIR (if set, write <query>.txt plans there)
  */
object BenchExtra {
  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Optional per-job profile (SPARK_GRAFT_JOB_PROFILE=1): logs every
    * Spark job's wall time so a slow query can be attributed to its
    * hottest jobs (guide §1.1 empirical loop, UI-less sandbox stand-in). */
  private final class JobProfiler extends org.apache.spark.scheduler.SparkListener {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      starts.put(js.jobId, (System.nanoTime(), desc))
    }
    override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec >= 0.02)
          println(f"JOBPROF job=${je.jobId}%d sec=$sec%.3f desc=$desc")
      }
    }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val sec = (for { a <- si.completionTime; b <- si.submissionTime }
        yield (a - b) / 1e3).getOrElse(-1.0)
      if (sec >= 0.25)
        println(f"STAGEPROF stage=${si.stageId}%d sec=$sec%.3f " +
          f"tasks=${si.numTasks}%d name=${si.name.takeWhile(_ != '\n')}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(cpus)
    if (sys.env.get("SPARK_GRAFT_JOB_PROFILE").contains("1"))
      spark.sparkContext.addSparkListener(new JobProfiler)
    // same warm as Bench: compile the extraction chain before timing
    Seq("x01_extract_e2e", "x04_extract_donut").foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      explainDir.foreach { d =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(d)
          java.nio.file.Files.createDirectories(p)
          java.nio.file.Files.write(p.resolve(s"$name.txt"),
            plan.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"explain $name failed: $e") }
      }
      def one(): Double =
        time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      val sec = try Seq.fill(reps)(one()).min catch { case e: Throwable =>
        System.err.println(s"$name failed: $e"); -1.0 }
      spark.sparkContext.setJobDescription(null)
      println(f"""BENCHX $name $sec%.3f""")
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"bench_extra":true,"reps":$reps,"queries":$qs,"total_query_sec":${f"$total%.3f"}}""")
    spark.stop()
  }
}
