package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The traced run's per-layer metrics. Every metric is printed for
  * every workload (0 where the workload does not reach the layer).
  * Times and counts are per operation unless the name says otherwise;
  * `ops.*` module times are per pass (one round of the workload's
  * operation kinds) and include the Spark jobs the calls ran, while
  * `sparql.*`, `engine.*` and `results.*` times exclude them. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "sparql.parse_s" -> "s", "engine.compile_s" -> "s", "engine.compile_jobs" -> "count",
    "engine.rows_scanned_per_result" -> "ratio",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.executions" -> "count",
    "spark.driver_only_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_wait_s" -> "s", "spark.task_success_ratio" -> "ratio",
    "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes",
    "ops.rdfs_s" -> "s", "ops.paths_s" -> "s", "ops.update_s" -> "s",
    "core.load_s" -> "s", "core.bytes_written" -> "bytes", "core.write_amp" -> "ratio",
    "core.files" -> "count", "core.cached_bytes" -> "bytes",
    "results.rows" -> "count", "results.body_bytes" -> "bytes", "results.serialize_s" -> "s",
    "workload.pass_p50_s" -> "s", "workload.read_p50_s" -> "s",
    "workload.write_p50_s" -> "s", "workload.store_bytes_per_quad" -> "bytes",
    "trace.throughput_ops_s" -> "1/s",
    "workload.latency_p50_s" -> "s", "workload.ops" -> "count")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s((s.size - 1) / 2) }

  def metrics(spark: SparkSession, t: Trace, done: Seq[(Int, Op, Res, Double)],
              failed: Set[Int], wall: Double, w: Workload, work: Path,
              name: String, seed: Int, extra: Map[String, Double]): Seq[(String, Double, String)] = {
    t.drain()
    val ok = done.filterNot(d => failed(d._1))
    val ids = ok.map(_._1).toSet
    val n = math.max(1, ok.size).toDouble
    val cs = ok.flatMap(d => t.counters.get(d._1))
    def sum(f: OpCounters => Double) = cs.map(f).sum
    val self = t.selfSeconds(ids)
    def layer(prefix: String) = self.filter(_._1.startsWith(prefix)).values.sum
    val passes = math.max(1.0, ok.size.toDouble / w.passLength)
    // ms of operation `op`'s Spark jobs (their union) inside [lo, hi]
    def jobMs(op: Int, lo: Long, hi: Long): Long = {
      val iv = t.counters.get(op).map(_.jobSpans.sortBy(_._1)).getOrElse(Nil)
      var covered = 0L; var end = lo
      iv.foreach { case (a, b) =>
        val s = math.max(a, end); val e = math.min(b, hi)
        if (e > s) covered += e - s
        end = math.max(end, e)
      }
      covered
    }
    // the rest of an operation's wall time is driver-only
    val driverOnly = ok.map(d => math.max(0.0, d._4 - jobMs(d._1, Long.MinValue, Long.MaxValue) / 1e3))
    // query-path layer times are driver-side: a span's self time minus
    // the Spark job time inside it (jobs count under spark.*)
    def driverSide(prefix: String): Double =
      t.spans.filter(s => s.name.startsWith(prefix) && ids(s.op)).map { s =>
        math.max(0.0, (s.end - s.start) / 1e9 - jobMs(s.op, s.wallStart, s.wallEnd) / 1e3)
      }.sum
    val compileJobs = t.spans.filter(s => s.name == "engine.compile" && ids(s.op)).map(s =>
      t.counters.get(s.op).map(_.jobSpans.count(j => j._1 >= s.wallStart && j._1 <= s.wallEnd))
        .getOrElse(0)).sum
    val resultRows = ok.map(_._3.rows.toDouble).sum
    val tasks = sum(_.tasks.toDouble)
    val storage = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
    val lat = ok.map(_._4)
    val kinds = ok.groupBy(_._2.write)
    val base: Map[String, Double] = Map(
      "sparql.parse_s" -> driverSide("sparql.") / n,
      "engine.compile_s" -> driverSide("engine.compile") / n,
      "engine.compile_jobs" -> compileJobs / n,
      "engine.rows_scanned_per_result" -> sum(_.rowsScanned.toDouble) / math.max(1.0, resultRows),
      "catalyst.analysis_s" -> sum(_.analysisMs / 1e3) / n,
      "catalyst.optimization_s" -> sum(_.optimizationMs / 1e3) / n,
      "catalyst.planning_s" -> sum(_.planningMs / 1e3) / n,
      "catalyst.executions" -> sum(_.executions.toDouble) / n,
      "spark.driver_only_s" -> driverOnly.sum / n,
      "spark.jobs" -> sum(_.jobs.toDouble) / n,
      "spark.stages" -> sum(_.stages.toDouble) / n,
      "spark.tasks" -> tasks / n,
      "spark.task_wait_s" -> sum(c => (c.taskDurMs - c.taskRunMs) / 1e3) / math.max(1.0, tasks),
      "spark.task_success_ratio" -> (if (tasks == 0) 1.0 else sum(_.tasksOk.toDouble) / tasks),
      "spark.task_run_s" -> sum(_.taskRunMs / 1e3) / n,
      "spark.gc_s" -> sum(_.gcMs / 1e3) / n,
      "spark.shuffle_write_bytes" -> sum(_.shufW.toDouble) / n,
      "spark.shuffle_read_bytes" -> sum(_.shufR.toDouble) / n,
      "spark.shuffle_fetch_wait_s" -> sum(_.fetchWaitMs / 1e3) / n,
      "spark.spill_bytes" -> sum(_.spill.toDouble) / n,
      "spark.peak_exec_mem_bytes" -> cs.map(_.peakExec.toDouble).foldLeft(0.0)(math.max),
      "ops.rdfs_s" -> layer("ops.rdfs") / passes,
      "ops.paths_s" -> layer("ops.paths") / passes,
      "ops.update_s" -> layer("ops.update") / passes,
      "core.cached_bytes" -> storage,
      "results.rows" -> resultRows / n,
      "results.body_bytes" -> ok.map(_._3.bodyBytes.toDouble).sum / n,
      "results.serialize_s" -> driverSide("results.") / n,
      "workload.pass_p50_s" -> median(ok.grouped(w.passLength).filter(_.size == w.passLength)
        .map(_.map(_._4).sum).toSeq),
      "workload.read_p50_s" -> median(kinds.getOrElse(false, Nil).map(_._4)),
      "workload.write_p50_s" -> median(kinds.getOrElse(true, Nil).map(_._4)),
      "trace.throughput_ops_s" -> ok.size / wall)
    val all = base ++ w.layerMetrics(ok) ++ extra
    // spans and per-op counters stay in the work directory for inspection
    val spanFile = work.resolve(s"trace-$name-$seed.tsv")
    val lines = t.spans.zipWithIndex.map { case (s, i) =>
      s"$i\t${s.name}\t${s.start}\t${s.end}\t${s.parent}\t${s.op}" }
    Files.write(spanFile, ("id\tname\tstart_ns\tend_ns\tparent\top\n" + lines.mkString("\n") + "\n")
      .getBytes(UTF_8))
    Names.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
  }
}
