package graftbench

import com.sun.net.httpserver.HttpServer
import graft.Tables
import graft.core.{QuadDb, Term}
import graft.tools.Endpoint
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import scala.collection.mutable
import scala.util.Random

/** `store_rw`: one HTTP client against `graft.tools.Endpoint` over a
  * fresh `QuadDb.save` of `Tables.customerQuads` (60k quads, one named
  * graph per nation). A seeded pass interleaves SPARQL Update requests
  * (INSERT/DELETE DATA, DELETE WHERE, COPY/MOVE/CLEAR), subject
  * takedowns and compactions called directly on `graft.core.QuadDb`,
  * queries that must see the preceding writes, and a full snapshot read.
  * The endpoint loads the store on every request, so nothing is served
  * from a cache. A model of the store (the base rows minus takedowns
  * plus the benchmark's own quads) is the independent check.
  *
  * Each pass then runs one pass of [[RdfsPaths]] (entailment and path
  * operators over the star graph slice), so the operator tier is
  * measured in the same runs. */
final class StoreRw(spark: SparkSession, seed: Int, work: Path) extends Workload {
  private val base = work.resolve("base").toString
  private val store = work.resolve("store")
  private var server: HttpServer = _
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val Pre = "PREFIX gk: <urn:graft:kw/>\n"
  private def rel(s: String) = s"<urn:graft:rel/$s>"
  private val StoreLen = 10
  private val entail = new RdfsPaths(spark, seed, work)
  def passLength: Int = StoreLen + entail.passLength
  def passSeconds: Double = 25.0

  // seeded choices: a permutation of customers (four per pass: one
  // removed by DELETE WHERE, three by takedown) and per-pass values
  private val rnd = new Random(seed * 104729L + 3)
  private val custOrder = rnd.shuffle((0 until Gen.Customers).toVector)
  private def victims(k: Int) = custOrder.slice(4 * k, 4 * k + 4)
  private val passSalt = Vector.fill(1000)(rnd.nextInt(1000000))
  private def nationOf(k: Int) = (k * 7 + seed) % Gen.Nations
  private def segOf(k: Int) = Gen.Segments((k + seed) % Gen.Segments.size)

  // store growth: bytes of files that appear, per write
  private var seen = Map.empty[String, Long]
  private var bytesWritten = 0L
  private var initialBytes = 0L
  private def noteWrites(): Unit = {
    val now = Frames.files(store)
    bytesWritten += now.collect { case (f, b) if !seen.get(f).contains(b) => b }.sum
    seen = now
  }

  def setup(): Unit = {
    storeSetup()
    entail.setup()
  }

  def teardown(): Unit = {
    if (server != null) { server.stop(0); server = null }
    entail.teardown()
  }

  /** The i-th operation: each pass runs the store sequence, then one
    * pass of the entailment and path operators. */
  def op(i: Int): Op = {
    val (k, pos) = (i / passLength, i % passLength)
    if (pos < StoreLen) storeOp(k * StoreLen + pos)
    else { entail.trace = trace; entail.op(k * entail.passLength + pos - StoreLen) }
  }

  def check(done: Seq[(Int, Op, Res)]): Set[Int] = {
    // renumber each half into its own sequence, check it, map back
    def half(d: Seq[(Int, Op, Res)], len: Int, off: Int, f: Seq[(Int, Op, Res)] => Set[Int]) = {
      def local(i: Int) = i / passLength * len + i % passLength - off
      val global = d.map(x => local(x._1) -> x._1).toMap
      f(d.map(x => x.copy(_1 = local(x._1)))).map(global)
    }
    val (store, ops) = done.partition(_._1 % passLength < StoreLen)
    half(store, StoreLen, 0, storeCheck) ++ half(ops, entail.passLength, StoreLen, entail.check)
  }

  private def storeSetup(): Unit = {
    deleteStore()
    QuadDb.save(Tables.customerQuads(spark, base), store.toString)
    server = Endpoint.start(spark, store.toString, 0)
    seen = Frames.files(store)
    initialBytes = seen.values.sum
    bytesWritten = 0L
    query(Pre + "SELECT ?c WHERE { GRAPH ?g { ?c gk:c_nationkey <urn:graft:rel/nation/0> } }")
  }

  private def deleteStore(): Unit = {
    val f = store.toFile
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private def post(route: String, ctype: String, body: String): String = {
    val port = server.getAddress.getPort
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/$route"))
      .header("Content-Type", ctype).header("Accept", "application/sparql-results+json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new IllegalStateException(s"$route returned ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }
  private def query(text: String): String = post("sparql", "application/sparql-query", text)
  private def update(text: String): Unit = post("update", "application/sparql-update", text)

  private def g(name: String, k: Int) = rel(s"bench/$name$k")
  private def benchQuad(k: Int, j: Int) =
    s"${rel(s"bench/s${k}_$j")} gk:bench_v \"v${passSalt(k % 1000)}_$j\" ."

  private def updateOp(text: String): Res = {
    trace.span("ops.update.http")(update(Pre + text))
    noteWrites()
    Res(1, Json.digest(Seq(text)))
  }
  private def queryOp(text: String): Res = {
    val body = trace.span("endpoint.query")(query(Pre + text))
    val rows = Json.selectRows(body)
    Res(rows.size, Json.digest(rows), body.length)
  }

  private def storeOp(i: Int): Op = {
    val k = i / StoreLen
    val v = victims(k)
    def key(s: String) = s"p$k-$s"
    i % StoreLen match {
      case 0 => Op(key("insert"), "update", write = true, () => updateOp(
        s"INSERT DATA { GRAPH ${g("g", k)} { ${(0 until 3).map(benchQuad(k, _)).mkString(" ")} } }"))
      case 1 => Op(key("read_inserted"), "query", write = false, () => queryOp(
        s"SELECT ?s ?v WHERE { GRAPH ${g("g", k)} { ?s gk:bench_v ?v } }"))
      case 2 => Op(key("delete"), "update", write = true, () => updateOp(
        s"DELETE DATA { GRAPH ${g("g", k)} { ${benchQuad(k, 0)} } } ;\n" +
          s"DELETE WHERE { GRAPH ?g { ${rel(s"customer/${v(0)}")} ?p ?o } }"))
      case 3 => Op(key("read_deleted"), "query", write = false, () => queryOp(
        s"SELECT ?g ?p ?o WHERE { GRAPH ?g { ${rel(s"customer/${v(0)}")} ?p ?o } }"))
      case 4 => Op(key("copy_move"), "update", write = true, () => updateOp(
        s"COPY GRAPH ${g("g", k)} TO GRAPH ${g("h", k)} ;\n" +
          s"MOVE GRAPH ${g("g", k)} TO GRAPH ${g("m", k)}" +
          (if (k > 0) s" ;\nCLEAR GRAPH ${g("h", k - 1)}" else "")))
      case 5 => Op(key("read_graphs"), "query", write = false, () => queryOp(
        "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s gk:bench_v ?v } } GROUP BY ?g"))
      case 6 => Op(key("takedown"), "takedown", write = true, () => {
        val gone = spark.createDataFrame(v.tail.map(c => Tuple1(s"customer/$c")))
          .select(Term.uriCol(col("_1")).as("s"))
        trace.span("core.takedown")(QuadDb.deleteSubjects(spark, store.toString, gone))
        noteWrites()
        Res(3, Json.digest(v.tail.map(_.toString)))
      })
      case 7 => Op(key("read_segment"), "query", write = false, () => queryOp(
        s"SELECT ?c WHERE { GRAPH ?g { ?c gk:c_mktsegment \"${segOf(k)}\" . " +
          s"?c gk:c_nationkey ${rel(s"nation/${nationOf(k)}")} } }"))
      case 8 => Op(key("compact"), "compact", write = true, () => {
        trace.span("core.compact")(QuadDb.compact(spark, store.toString))
        noteWrites()
        Res(1, "compact")
      })
      case 9 => Op(key("snapshot"), "snapshot", write = false, () =>
        trace.span("core.load")(Frames.res(QuadDb.load(spark, store.toString).df)))
    }
  }

  // -------------------------------------------------- model and checks

  private def storeCheck(done: Seq[(Int, Op, Res)]): Set[Int] = {
    val cust = spark.read.parquet(s"$base/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1), r.getString(2)))
    // bench graph name -> its (subject, value) facts
    val graphs = mutable.Map.empty[String, Set[(String, String)]].withDefaultValue(Set.empty)
    val removed = mutable.Set.empty[Int]
    val R = "urn:graft:rel/"
    def quad(k: Int, j: Int) = (s"${R}bench/s${k}_$j", s"v${passSalt(k % 1000)}_$j")
    def live = 4L * (Gen.Customers - removed.size) + graphs.values.map(_.size).sum
    val bad = mutable.Set.empty[Int]
    // replay the sequence in order; reads are compared to the model
    done.sortBy(_._1).foreach { case (i, _, r) =>
      val k = i / StoreLen
      val v = victims(k)
      def expect(rows: Seq[String]): Unit =
        if (r.rows != rows.size || r.digest != Json.digest(rows)) {
          System.err.println(s"[bench] store op $i: got ${r.rows} rows, model has ${rows.size}")
          bad += i
        }
      i % StoreLen match {
        case 0 => graphs(s"g$k") = (0 until 3).map(quad(k, _)).toSet
        case 1 => expect(graphs(s"g$k").toSeq.map { case (s, v) => s"s=$s v=$v" })
        case 2 =>
          graphs(s"g$k") = graphs(s"g$k") - quad(k, 0)
          removed += v(0)
        case 3 => expect(Nil)
        case 4 =>
          graphs(s"h$k") = graphs(s"g$k"); graphs(s"m$k") = graphs(s"g$k")
          graphs.remove(s"g$k")
          if (k > 0) graphs.remove(s"h${k - 1}")
        case 5 => expect(graphs.toSeq.filter(_._2.nonEmpty).map { case (name, qs) =>
          s"g=${R}bench/$name n=${qs.size}" })
        case 6 => removed ++= v.tail
        case 7 => expect(cust.filter(c => c._2 == nationOf(k) && c._3 == segOf(k) && !removed(c._1))
          .map(c => s"c=${R}customer/${c._1}").toSeq)
        case 8 => ()
        case 9 =>
          if (r.rows != live) {
            System.err.println(s"[bench] store snapshot $i: ${r.rows} quads, model has $live")
            bad += i
          }
      }
    }
    modelQuads = live
    bad.toSet
  }
  private var modelQuads = 4L * Gen.Customers

  override def layerMetrics(done: Seq[(Int, Op, Res, Double)]): Map[String, Double] = {
    val files = Frames.files(store)
    val passes = math.max(1.0, done.size.toDouble / passLength)
    val loads = done.filter(_._2.kind == "snapshot").map(_._4)
    Map("core.files" -> files.size.toDouble,
      "core.bytes_written" -> bytesWritten / passes,
      "core.write_amp" -> bytesWritten / passes / math.max(1.0, initialBytes.toDouble),
      "core.load_s" -> (if (loads.isEmpty) 0.0 else loads.sum / loads.size),
      "workload.store_bytes_per_quad" -> files.values.sum.toDouble / modelQuads)
  }
}
