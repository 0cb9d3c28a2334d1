package graftbench

import graft.Tables
import graft.core.TripleDb
import graft.sparql._
import graft.sources.SparqlResults
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.util.Random

/** `sparql_read`: seeded SPARQL 1.1 texts answered with
  * `Sparql.runToJson` over the star graph (`Tables.graph`, ~0.8M
  * triples) built and persisted in setup. Ten templates cover 1-4
  * patterns, FILTER, OPTIONAL, ORDER BY/LIMIT, GROUP BY/COUNT, ASK,
  * DESCRIBE and CONSTRUCT; constants are drawn from the data. Three
  * requests in 13 repeat an earlier text exactly (23%).
  *
  * The traced run answers each text through the same public calls
  * split by layer (`Sparql.parse`, the form's executor, the result
  * serializer), so each layer gets its own span. */
final class SparqlRead(spark: SparkSession, seed: Int, work: Path) extends Workload {
  private val base = work.resolve("base").toString
  private var db: TripleDb = _
  import SparqlRead._

  val Templates = 10

  private def instance(r: Random, t: Int): Q = {
    def seg = Gen.Segments(r.nextInt(Gen.Segments.size))
    t match {
      case 0 | 5 => Q(t, r.nextInt(Gen.Nations), seg, 0)
      case 1 => Q(t, 0, seg, 9000 + r.nextInt(900))
      case 2 | 7 => Q(t, r.nextInt(Gen.Customers), "", 0)
      case 3 => Q(t, r.nextInt(Gen.Regions.size), "", 9500 + r.nextInt(450))
      case 4 => Q(t, r.nextInt(Gen.Nations), "", r.nextInt(9000))
      case 6 => Q(t, r.nextInt(Gen.Nations), "", 9970 + r.nextInt(29))
      case 8 => Q(t, r.nextInt(Gen.Nations), Gen.Priorities(r.nextInt(5)), 0)
      case 9 => Q(t, 0, Gen.Priorities(r.nextInt(5)), 490000 + r.nextInt(9000))
    }
  }

  /** The seeded request sequence, in passes: each pass asks every
    * template once with fresh constants, in a fixed order, and repeats
    * three earlier texts exactly (3 of 13 requests, 23%). The repeated
    * templates follow a fixed rotation and only the repeated instance is
    * seeded, so every seed has the same template mix. */
  val Passes = 20
  def passLength: Int = Templates + 3
  def passSeconds: Double = 10.0
  private val seq: IndexedSeq[Q] = {
    val r = new Random(seed * 7919L + 17)
    val b = scala.collection.mutable.ArrayBuffer.empty[Q]
    for (p <- 0 until Passes; j <- 0 until passLength)
      if (j % 4 == 3) {
        // slot 3, 7, 11 repeats one of templates 0-2, 3-5, 6-8: all asked
        // earlier in this pass
        val t = 3 * (j / 4) + p % 3
        val earlier = b.filter(_.t == t).distinct
        b += earlier(r.nextInt(earlier.size))
      } else b += instance(r, j - j / 4)
    b.toIndexedSeq
  }
  private val Length = seq.size

  def setup(): Unit = {
    db = Tables.graph(spark, base).index()
    db.df.write.format("noop").mode("overwrite").save()
    // warm-up: one request of two templates, constants off the sequence
    val r = new Random(-1L)
    Seq(2, 5).foreach(t => Sparql.runToJson(db, instance(r, t).text))
  }

  def teardown(): Unit = if (db != null) db.df.unpersist(true)

  def op(i: Int): Op = {
    val q = seq(i % Length)
    val text = q.text
    Op(s"t${q.t}-${java.lang.Long.toHexString(Json.hash64(text))}", s"t${q.t}", write = false,
      () => result(q, answer(text)))
  }

  /** runToJson, or the same public calls one layer at a time when traced. */
  private def answer(text: String): String =
    if (!trace.enabled) Sparql.runToJson(db, text)
    else trace.span("sparql.parse")(Sparql.parse(text)) match {
      case q: SelectQuery =>
        val df = trace.span("engine.compile")(Sparql.selectDf(db, q))
        trace.span("results.serialize")(SparqlResults.toJsonDoc(df))
      case q: AskQuery =>
        val b = trace.span("engine.compile")(Sparql.ask(db, q))
        trace.span("results.serialize")(SparqlResults.askJsonDoc(b))
      case _ => trace.span("engine.run")(Sparql.runToJson(db, text))
    }

  private def result(q: Q, body: String): Res = {
    val rows = q.t match {
      case 6 => Seq(Json.askValue(body).toString)
      case 7 | 8 => body.split("\n").toSeq.filter(_.nonEmpty)
      case _ => Json.selectRows(body)
    }
    Res(rows.size, Json.digest(rows), body.getBytes("UTF-8").length)
  }

  // ------------------------------------------------------------- oracle

  /** Each result recomputed from the base tables with plain Scala
    * collections (no graft code), compared by row count, and by digest
    * where the canonical rows are fully determined. */
  def check(done: Seq[(Int, Op, Res)]): Set[Int] = {
    val o = new Oracle(spark, base)
    done.collect { case (i, _, r) if !o.agrees(seq(i % Length), r) => i }.toSet
  }

  private final class Oracle(spark: SparkSession, base: String) {
    private def rows(t: String) = spark.read.parquet(s"$base/$t.parquet").collect()
    val cust = rows("customer").map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4)))
    val nationRegion = rows("nation").map(r => r.getInt(0) -> r.getInt(2)).toMap
    val supp = rows("supplier").map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    val ord = spark.read.parquet(s"$base/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
    private val R = "urn:graft:rel/"
    private def n(d: Double) = Json.number(BigDecimal(d.toString))

    def agrees(q: Q, r: Res): Boolean = {
      val exp: Either[Long, Seq[String]] = q.t match {
        case 0 => Right(cust.filter(c => c._3 == q.a && c._5 == q.b).map(c => s"c=${R}customer/${c._1}").toSeq)
        case 1 => Right(cust.filter(c => c._5 == q.b && c._4 > q.x).sortBy(c => (-c._4, c._1)).take(20)
          .map(c => s"c=${R}customer/${c._1} b=${n(c._4)}").toSeq)
        case 2 => Right(ord.filter(_._2 == q.a).map(o => s"o=${R}orders/${o._1} p=${n(o._4)} s=${o._3}").toSeq)
        case 3 => Right(cust.filter(c => nationRegion(c._3) == q.a && c._4 > q.x)
          .map(c => s"c=${R}customer/${c._1} name=${c._2}").toSeq)
        case 4 => Right(supp.filter(_._3 == q.a).map(s =>
          s"s=${R}supplier/${s._1} name=${s._2}" + (if (s._4 > q.x) s" b=${n(s._4)}" else "")).toSeq)
        case 5 => Right(cust.filter(_._5 == q.b).groupBy(_._3).map { case (k, cs) =>
          s"n=${R}nation/$k cnt=${cs.length}" }.toSeq)
        case 6 => Right(Seq(cust.exists(c => c._3 == q.a && c._4 > q.x).toString))
        // the customer's own facts (subject-only description)
        case 7 => Left(4L)
        case 8 =>
          val inNation = cust.filter(_._3 == q.a).map(_._1).toSet
          Right(ord.filter(o => o._5 == q.b && o._3 == "P" && inNation(o._2)).map(o =>
            s"<${R}orders/${o._1}> <urn:graft:kw/placed_by> <${R}customer/${o._2}> .").toSeq)
        case 9 => Right(ord.filter(o => o._5 == q.b && o._4 > q.x).sortBy(o => (-o._4, o._1)).take(10)
          .map(o => s"o=${R}orders/${o._1} p=${n(o._4)}").toSeq)
      }
      val agree = exp match {
        case Left(count) => r.rows == count
        case Right(rs) => r.rows == rs.size && r.digest == Json.digest(rs)
      }
      if (!agree) System.err.println(s"[bench] t${q.t} ${q.text.replace('\n', ' ')}: got ${r.rows} rows, " +
        s"expected ${exp.fold(identity, _.size)}")
      agree
    }
  }
}

object SparqlRead {
  val Pre = "PREFIX gk: <urn:graft:kw/>\n"
  def rel(s: String) = s"<urn:graft:rel/$s>"

  /** A query instance: template id plus its constants. */
  final case class Q(t: Int, a: Int, b: String, x: Double) {
    def text: String = Pre + (t match {
      case 0 => s"""SELECT ?c WHERE { ?c gk:c_nationkey ${rel(s"nation/$a")} . ?c gk:c_mktsegment "$b" . }"""
      case 1 => s"""SELECT ?c ?b WHERE { ?c gk:c_mktsegment "$b" . ?c gk:c_acctbal ?b . FILTER (?b > $x) }
                   |ORDER BY DESC(?b) ?c LIMIT 20""".stripMargin
      case 2 => s"""SELECT ?o ?p ?s WHERE { ?o gk:o_custkey ${rel(s"customer/$a")} . ?o gk:o_totalprice ?p .
                   |?o gk:o_orderstatus ?s . }""".stripMargin
      case 3 => s"""SELECT ?c ?name WHERE { ?c gk:c_nationkey ?n . ?n gk:n_regionkey ${rel(s"region/$a")} .
                   |?c gk:c_name ?name . ?c gk:c_acctbal ?b . FILTER (?b > $x) }""".stripMargin
      case 4 => s"""SELECT ?s ?name ?b WHERE { ?s gk:s_nationkey ${rel(s"nation/$a")} . ?s gk:s_name ?name .
                   |OPTIONAL { ?s gk:s_acctbal ?b . FILTER (?b > $x) } }""".stripMargin
      case 5 => s"""SELECT ?n (COUNT(*) AS ?cnt) WHERE { ?c gk:c_nationkey ?n . ?c gk:c_mktsegment "$b" . }
                   |GROUP BY ?n""".stripMargin
      case 6 => s"""ASK { ?c gk:c_nationkey ${rel(s"nation/$a")} . ?c gk:c_acctbal ?b . FILTER (?b > $x) }"""
      case 7 => s"DESCRIBE ${rel(s"customer/$a")}"
      case 8 => s"""CONSTRUCT { ?o gk:placed_by ?c . } WHERE { ?o gk:o_custkey ?c .
                   |?c gk:c_nationkey ${rel(s"nation/$a")} . ?o gk:o_orderpriority "$b" . ?o gk:o_orderstatus "P" . }""".stripMargin
      case 9 => s"""SELECT ?o ?p WHERE { ?o gk:o_orderpriority "$b" . ?o gk:o_totalprice ?p . FILTER (?p > $x) }
                   |ORDER BY DESC(?p) ?o LIMIT 10""".stripMargin
    })
  }
}
