package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Committed profiling main, outside the driver contract: run one
  * or more registry entries in a fresh session and print every Spark job's
  * wall time + description, plus the entry's prep/exec split — the
  * job-level attribution the Bench totals can't show.
  *
  * Usage: ProfileEntry <sfDir> <entry> [entry...]
  * (env: SPARK_GRAFT_CPUS; PROFILE_SHUFFLE / PROFILE_AQE override the
  * session's shuffle partitions / AQE switch; PROFILE_JOBS=1, PROFILE_OPS=1
  * print per-job and per-operator detail)
  * Repeat an entry name to measure warm re-execution.
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.functions.GraftExtensions.session()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("PROFILE_SHUFFLE").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    sys.env.get("PROFILE_AQE").foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, tasks) =>
          done.add((je.jobId, (je.time - t0) / 1e3, desc, tasks))
        }
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    // warm shared stores untimed, as the bench does
    SparkEntry.warmFor(spark, sfDir, names.toSet)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      done.clear()
      spark.sparkContext.setJobDescription(s"[$name] prep")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPrep = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(s"[$name] exec")
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val tExec = (System.nanoTime() - t1) / 1e9
      spark.sparkContext.setJobDescription(null)
      Thread.sleep(300) // let listener events drain
      println(f"===== $name prep=$tPrep%.2f exec=$tExec%.2f =====")
      val rows = done.toArray(Array.empty[(Int, Double, String, Int)]).sortBy(_._1)
      val byDesc = rows.groupBy(_._3).view.mapValues(r => (r.map(_._2).sum, r.length)).toSeq
        .sortBy(-_._2._1)
      for ((desc, (sum, n)) <- byDesc.take(12))
        println(f"  $sum%7.2f s over $n%3d job(s)  $desc%.120s")
      if (sys.env.get("PROFILE_JOBS").contains("1"))
        for ((id, w, desc, tasks) <- rows)
          println(f"    job $id%4d $w%7.2f s $tasks%5d tasks  $desc%.80s")
      val njobs = rows.length
      val jsum = rows.map(_._2).sum
      println(f"  TOTAL jobs=$njobs sumJobWall=$jsum%.2f (prep+exec=${tPrep + tExec}%.2f; gap = driver/plan time)")
      if (sys.env.get("PROFILE_OPS").contains("1")) {
        // operator-level time metrics from the executed plan (post-AQE)
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[(String, Long)] = {
          val interesting = p.metrics.collect {
            case (k, m) if (k.contains("time") || k.contains("Time") || k == "duration") && m.value > 0 =>
              (s"${p.nodeName}.$k", m.value)
          }.toSeq
          interesting ++ p.children.flatMap(walk) ++ (p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
            case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Nil
            case _ => Nil
          })
        }
        val ops = walk(df.queryExecution.executedPlan)
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(-_._2)
        for ((k, v) <- ops.take(20)) println(f"    OP $v%10d  $k")
      }
    }
    spark.stop()
  }
}
