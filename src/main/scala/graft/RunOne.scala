package graft

/** Dev harness: run one named query from [[SparkEntry.queries]] N times
  * against a given sf dir, print per-run wall seconds (cold + warm), and
  * optionally the formatted physical plan.
  *
  * Usage: runMain graft.RunOne <name> [sfDir] [reps] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val explain = args.contains("explain")
    val b = LocalSpark.builder(LocalSpark.envCpus(32))
    // ad-hoc conf A/B: SPARK_GRAFT_CONF="k=v,k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    // "jobs": per-job wall time + stage/task counts for the profiled
    // query (guide §7.1 — no UI in this sandbox, so surface the same
    // breakdown on stdout)
    if (args.contains("jobs")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          private val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(js.jobId, System.nanoTime())
            val props = Option(js.properties).map(p =>
              Seq("callSite.long", "spark.job.description")
                .flatMap(k => Option(p.getProperty(k)))
                .mkString("<", " ;; ", ">")).getOrElse("")
            names.put(js.jobId,
              s"${js.stageInfos.size} stages/${js.stageInfos.map(_.numTasks).sum} tasks " +
                props.replace('\n', ';').take(500) + " " +
                js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(200))
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dt = (System.nanoTime() - Option(t0.get(je.jobId)).getOrElse(0L)) / 1e9
            println(f"[job] ${je.jobId}%3d ${dt}%6.3fs ${names.get(je.jobId)}")
          }
        })
    }
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[runone] $name rep=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      // same rep hygiene as BenchChild: blocking drop of query-internal
      // checkpoint blocks + GC settle, so reps are comparable draws
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
