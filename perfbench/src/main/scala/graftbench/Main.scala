package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.collection.mutable

/** One measured operation of a workload: `key` names its expected
  * result (two operations with the same key must return the same
  * result), `write` marks operations that mutate state. */
final case class Op(key: String, kind: String, write: Boolean, run: () => Res)

/** An operation's checked output: row count plus an order-independent
  * digest of every row, and the response size where there is one. */
final case class Res(rows: Long, digest: String, bodyBytes: Long = 0L)

/** A workload: `setup` builds its state (the benchmark repeats it and
  * reports the median), `ops(i)` is the i-th operation of its seeded
  * sequence, and `check` returns the indices of operations whose
  * results an independent computation contradicts. */
trait Workload {
  def setup(): Unit
  def teardown(): Unit
  def op(i: Int): Op
  def check(done: Seq[(Int, Op, Res)]): Set[Int]
  /** Operations per pass: one round of the workload's operation kinds. */
  def passLength: Int
  /** Nominal seconds of one pass on a 4-core machine; sizes a run. */
  def passSeconds: Double
  /** Per-layer metrics only this workload can see (store sizes etc). */
  def layerMetrics(done: Seq[(Int, Op, Res, Double)]): Map[String, Double] = Map.empty
  /** Spans for the traced run's per-layer attribution. */
  var trace: Trace = _
}

object Main {
  val DefaultSeed = 1
  val SetupReps = 3
  val OpTimeoutS = 30L

  def main(args: Array[String]): Unit = {
    val kv = args.tail.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(kv("--work")).toAbsolutePath
    args.head match {
      case "gen" =>
        val spark = session(work)
        try Gen.write(spark, work.resolve("base").toString)
        finally spark.stop()
      case "run" =>
        run(kv("--workload"), kv("--seed").toInt, kv("--seconds").toInt,
          kv("--trace") == "1", kv.get("--record").map(Paths.get(_)),
          kv.get("--expected").map(Paths.get(_)), kv.get("--determinism").map(Paths.get(_)), work)
        // the JVM may hold non-daemon threads (HTTP server pools)
        sys.exit(0)
    }
  }

  /** The session `graft.Bench` uses (local[4], same confs), with every
    * scratch location inside the benchmark's work directory. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Int, work: Path): Workload =
    name match {
      case "sparql_read" => new SparqlRead(spark, seed, work)
      case "store_rw" => new StoreRw(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Heap in use after full collections: what the run's state retains. */
  private def retainedHeap(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
  }

  def run(name: String, seed: Int, seconds: Int, traced: Boolean,
          record: Option[Path], expectedFile: Option[Path], determinism: Option[Path],
          work: Path): Unit = {
    val spark = session(work)
    val w = workload(name, spark, seed, work)
    // set up SetupReps times (the last one stays up), median reported
    val setups = (1 to SetupReps).map { i =>
      if (i > 1) w.teardown()
      val t0 = System.nanoTime()
      w.setup()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] setup $i%d ${dt}%.3fs")
      dt
    }
    val trace = new Trace(spark, traced)
    w.trace = trace
    val exec = Executors.newSingleThreadExecutor()
    val done = mutable.ArrayBuffer.empty[(Int, Op, Res, Double)]
    val failed = mutable.Set.empty[Int]
    // fixed work: as many whole passes as fill `seconds` at the
    // workload's nominal pass time, so every run measures the same
    // operations however fast the machine is at the moment (a time
    // window would drop a pass on a slow run); record mode runs two
    val passes = if (record.isDefined) 2 else math.max(1, math.ceil(seconds / w.passSeconds).toInt)
    val t0 = System.nanoTime()
    var i = 0
    while (i < passes * w.passLength) {
      val op = w.op(i)
      trace.beginOp(i)
      val s0 = System.nanoTime()
      val f = exec.submit(() => trace.span(s"op.${op.kind}")(op.run()))
      val res =
        try Some(f.get(OpTimeoutS, TimeUnit.SECONDS))
        catch {
          case e: TimeoutException =>
            spark.sparkContext.cancelAllJobs()
            System.err.println(s"[bench] op $i (${op.key}) timed out after ${OpTimeoutS}s")
            None
          case e: Throwable =>
            System.err.println(s"[bench] op $i (${op.key}) failed: ${e.getCause}")
            None
        }
      val dt = (System.nanoTime() - s0) / 1e9
      trace.endOp()
      System.err.println(f"[bench] op $i%d ${op.kind}%s ${dt}%.3fs ${res.map(_.rows).getOrElse(-1L)}%d rows")
      res match {
        case Some(r) => done += ((i, op, r, dt))
        case None =>
          failed += i
          // a failed op misses every latency limit
          done += ((i, op, Res(-1, "failed"), Double.PositiveInfinity))
      }
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    exec.shutdownNow()

    val ok = done.filter(_._3.rows >= 0)
    val wrong = mutable.Set.empty[Int]
    // recorded results of the default seed, then the independent check
    val expected: Map[String, String] =
      expectedFile.filter(_ => seed == DefaultSeed).filter(Files.exists(_))
        .map(p => Json.parseFlat(new String(Files.readAllBytes(p), UTF_8))).getOrElse(Map.empty)
    ok.foreach { case (idx, op, r, _) =>
      expected.get(op.key).foreach { exp =>
        if (exp != s"${r.rows}:${r.digest}") {
          System.err.println(s"[bench] op $idx (${op.key}) result ${r.rows}:${r.digest} != recorded $exp")
          wrong += idx
        }
      }
    }
    val contradicted = w.check(ok.map { case (a, b, c, _) => (a, b, c) }.toSeq)
    contradicted.foreach(idx =>
      System.err.println(s"[bench] op $idx (${w.op(idx).key}) failed its independent check"))
    wrong ++= contradicted
    // a wrong result is a failed operation
    failed ++= wrong
    record.foreach { p =>
      val m = ok.map { case (_, op, r, _) => op.key -> s"${r.rows}:${r.digest}" }.toMap
      Files.write(p, Json.flat(m.toSeq.sortBy(_._1)).getBytes(UTF_8))
    }

    // the counts two runs of one seed must agree on exactly
    determinism.foreach { p =>
      val m = ok.map { case (idx, op, r, _) =>
        val c = trace.counters.getOrElse(idx, new OpCounters)
        s"op$idx" -> s"${op.key} jobs=${c.jobs} tasks=${c.tasks} rows=${r.rows} digest=${r.digest}"
      } ++ w.layerMetrics(ok.toSeq).get("core.files").map(f => "core.files" -> f.toString)
      Files.write(p, Json.flat(m.toSeq).getBytes(UTF_8))
    }
    val lat = done.map(d => if (failed(d._1)) Double.PositiveInfinity else d._4).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(("setup_s", pct(setups, 0.5), "s"),
          ("throughput_ops_s", (done.size - failed.size) / wall, "1/s"),
          // a run holds 14-26 operations of different kinds, too few for
          // a stable median or any tail percentile; the geometric mean
          // moves with every kind's latency
          ("latency_geomean_s", math.exp(lat.map(math.log).sum / lat.size), "s"),
          ("retained_heap_bytes", retainedHeap(), "bytes"))
      } else Layers.metrics(spark, trace, done.toSeq, failed.toSet, wall, w, work, name, seed,
        Map("workload.latency_p50_s" -> pct(lat, 0.5), "workload.ops" -> done.size.toDouble))
    trace.close()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${wrong.isEmpty && ok.nonEmpty}, "attempted": ${done.size}, "failed": ${failed.size}, "metrics": {$body}}""")
    System.out.flush()
    try w.teardown() catch { case _: Throwable => () }
    spark.stop()
  }
}
