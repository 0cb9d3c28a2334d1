package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-entry Spark-JOB accounting: `runMain graft.tools.JobCount
  * q143_quad_gdpr,q195_graph_mgmt [sfDir]` runs each named SparkEntry
  * query (same session confs as Bench) and prints jobs / stages /
  * tasks / wall seconds. The durable-lifecycle entries are multi-JOB
  * pipelines whose cost on this box is job count × the 40-130 ms
  * firecracker scheduling floor (SURVEY §8.3), so `explain` on the
  * returned frame sees only the final query — this listener sees every
  * job the entry ran. Evidence tool for OPTIMIZATION_r15.md.
  *
  * Under each entry, its jobs are grouped by their innermost `graft.`
  * call-site frame, so each count names the library call that ran it.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // a call site keeps 20 frames by default, which a Spark SQL action's
    // own frames use up before any graft frame
    System.setProperty("spark.callstack.depth", "400")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    // same A/B knob as Bench/Explain: "k=v,k=v" extra confs
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
      }
    })
    spark.sparkContext.setLogLevel("WARN")
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    // shuffle bytes written across the entry's stages: the deterministic
    // evidence for exchange-narrowing changes (wall seconds on this box
    // are stall-window noise; bytes are not)
    val shufW = new AtomicLong(0L)
    val sites = scala.collection.concurrent.TrieMap.empty[String, AtomicInteger]
    // jobs a query runs on other threads (broadcasts) carry no graft
    // frame; they fall back to their SQL execution's call site
    val execSites = scala.collection.concurrent.TrieMap.empty[String, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(execSites.put(x.executionId.toString, _))
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the result stage (highest id; earlier stages may be reused
        // from other jobs) carries the job's call site
        val site = j.stageInfos.maxByOption(_.stageId)
          .flatMap(st => graftFrame(st.details))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(execSites.get))
          .getOrElse("(no graft frame)")
        sites.getOrElseUpdate(site, new AtomicInteger).incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    // warmup mirrors Bench so one-time session costs don't attribute
    // to the first named entry
    try {
      graft.SparkEntry.queries("q15_select_bag")(spark, sfDir).count()
      graft.SparkEntry.warmRigs(spark, sfDir)
    } catch { case _: Throwable => () }
    println(f"${"entry"}%-28s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%8s ${"shufKB"}%9s ${"sec"}%8s")
    for (name <- names) {
      // drain the async listener bus DETERMINISTICALLY so a previous
      // entry's events don't attribute here (fixed sleeps skewed
      // counts when delivery outran them — round-16 ADVICE item)
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      stages.set(0); tasks.set(0L); shufW.set(0L); sites.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      val jobs = sites.values.map(_.get).sum
      println(f"$name%-28s $jobs%6d ${stages.get}%7d ${tasks.get}%8d ${shufW.get / 1024}%9d $dt%8.2f")
      sites.toSeq.map { case (site, n) => (n.get, site) }
        .sortBy { case (n, site) => (-n, site) }
        .foreach { case (n, site) => println(f"  $n%6d  $site") }
    }
    spark.stop()
  }

  /** The innermost `graft.` frame of a call site's long form (one
    * stack frame per line). */
  private def graftFrame(details: String): Option[String] =
    Option(details).flatMap(_.linesIterator.map(_.trim).find(_.startsWith("graft.")))
}
