package graft.tools

/** Ad-hoc timing harness used during development (not part of the
  * driver contract). Args: <sfDir> <queryName>... */
object Scratch {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SCRATCH_CPUS", "4")
    val spark = graft.GraftSession.create(s"local[$cpus]")
    // SCRATCH_CONF="k=v;k2=v2": runtime SQL conf overrides for A/Bs
    // (e.g. spark.sql.shuffle.partitions=32, spark.sql.adaptive.enabled=false)
    sys.env.get("SCRATCH_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val dir = args(0)
    val explain = sys.env.get("SCRATCH_EXPLAIN").contains("1")
    // SCRATCH_JOBS=1: print every Spark job's wall time + description,
    // to see where a multi-job query (parquet-barriered pipelines,
    // iterative loops) actually spends its seconds (guide §1.1).
    if (sys.env.get("SCRATCH_JOBS").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          starts.put(js.jobId, (System.nanoTime(), desc))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
            val dt = (System.nanoTime() - t0) / 1e9
            if (dt >= 0.05)
              System.err.println(f"[job] id=${je.jobId}%-4d ${dt}%6.2f s  $desc")
          }
        }
      })
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val subs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          subs.put(s.stageInfo.stageId, System.nanoTime())
        override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = s.stageInfo
          val wall = Option(subs.remove(si.stageId))
            .map(t0 => (System.nanoTime() - t0) / 1e9).getOrElse(-1.0)
          val m = si.taskMetrics
          if (wall >= 0.10)
            System.err.println(f"[stage] id=${si.stageId}%-4d wall=$wall%5.2f s " +
              f"tasks=${si.numTasks}%-3d exec=${m.executorRunTime / 1e3}%6.2f s " +
              f"cpu=${m.executorCpuTime / 1e9}%6.2f s ${si.name.takeWhile(_ != '(')}")
        }
      })
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          System.err.println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
          p.stateOperators.foreach { so =>
            System.err.println(s"[stream]   state op=${so.operatorName} " +
              s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"removed=${so.numRowsRemoved} updMs=${so.allUpdatesTimeMs} " +
              s"rmMs=${so.allRemovalsTimeMs} commitMs=${so.commitTimeMs}")
          }
        }
      })
    }
    // SCRATCH_STACKS=1: in-process sampler — every 100ms aggregate the
    // top frames of busy executor-task threads (jstack attach is flaky
    // in this sandbox; this always works).
    if (sys.env.get("SCRATCH_STACKS").contains("1")) {
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(100)
          val it = Thread.getAllStackTraces.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey.getName.startsWith("Executor task launch")) {
              val st = e.getValue
              if (st.nonEmpty && !st(0).toString.contains("Unsafe.park")) {
                val key = st.take(12).mkString(" <- ")
                counts.merge(key, 1, (a, b) => a + b)
              }
            }
          }
        }
      })
      t.setDaemon(true)
      t.start()
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        counts.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
          System.err.println(s"[stacks] $n x $k")
        }
      }))
    }
    args.drop(1).foreach { name =>
      if (explain) {
        println(s"========== $name ==========")
        graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
      } else {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"scratch:$name")
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        spark.sparkContext.setJobDescription(null)
        println(f"[scratch] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
