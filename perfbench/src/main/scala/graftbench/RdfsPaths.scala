package graftbench

import graft.Tables
import graft.core.{Term, TripleDb}
import graft.ops.{Paths, Rdfs}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Path
import scala.collection.mutable
import scala.util.Random

/** Entailment and path operators over a seeded slice of the star graph
  * (all customers, suppliers, nations and regions plus a seeded tenth
  * of the orders, ~138k triples): `Rdfs.materialize` under a seeded
  * ontology (a subPropertyOf chain of depth 2, a subClassOf chain of
  * seeded depth 1-3, domain and range), `Rdfs.materializeDelta` of a
  * seeded batch of new customers, `Paths.closure` and `Paths.reachable`
  * over the FK edges: exchange, set-semantics dedup and iterative
  * checkpoint work. Each operation ends in one row-hash aggregate over
  * every result column. Runs as the second half of each `store_rw` pass.
  */
final class RdfsPaths(spark: SparkSession, seed: Int, work: Path) extends Workload {
  private val base = work.resolve("base").toString
  private val rnd = new Random(seed * 15485863L + 11)
  private val orderSlice = rnd.nextInt(10)
  // the subPropertyOf chain sets the entailed store's size, so its depth
  // is fixed; the subClassOf chain (tens of triples) takes the seed
  private val propDepth = 2
  private val classDepth = 1 + rnd.nextInt(3)
  private val deltaKeys = (0 until 500).map(j => 100000L + seed * 1000L + j)
  private val deltaNations = deltaKeys.map(_ => rnd.nextInt(Gen.Nations))

  private def kw(s: String) = Term.TKeyword(s)
  private val GeoPreds = Seq("c_nationkey", "s_nationkey", "n_regionkey")
  private def geo(j: Int) = s"in_geo_$j"
  private def cls(j: Int) = s"class_$j"
  /** The seeded ontology as (s, p, o) keyword names. */
  private val ontology: Seq[(String, String, String)] =
    GeoPreds.map(p => (p, "subPropertyOf", geo(1))) ++
      (1 until propDepth).map(j => (geo(j), "subPropertyOf", geo(j + 1))) ++
      Seq(("o_custkey", "subPropertyOf", "placed_by"),
        (geo(1), "domain", "geo_thing"), (geo(1), "range", "place"),
        ("place", "subClassOf", cls(1)), ("geo_thing", "subClassOf", "entity")) ++
      (1 until classDepth).map(j => (cls(j), "subClassOf", cls(j + 1)))
  private val ont: TripleDb = TripleDb.fromTerms(spark,
    ontology.map { case (s, p, o) => (kw(s), kw(p), kw(o)) })

  private var graph: TripleDb = _
  private var delta: TripleDb = _
  private val toRelease = mutable.ArrayBuffer.empty[DataFrame]

  val kinds: IndexedSeq[String] = IndexedSeq("rdfs_materialize", "rdfs_delta", "paths_closure",
    "paths_reachable")
  def passLength: Int = kinds.size
  def passSeconds: Double = 7.0

  def setup(): Unit = {
    val orders = Tables.t(spark, base, "orders").where(col("o_orderkey") % 10 === orderSlice)
    graph = TripleDb.unionDisjoint(Tables.customerDb(spark, base), Tables.nationDb(spark, base),
      Tables.regionDb(spark, base), Tables.supplierDb(spark, base),
      TripleDb.fromWideTable(orders, "orders", "o_orderkey", fks = Map("o_custkey" -> "customer")))
      .index()
    val deltaRows = spark.createDataFrame(spark.sparkContext.parallelize(
      deltaKeys.zip(deltaNations).map { case (k, n) =>
        Row(k, f"Customer#$k%09d", n, (k % 100000) / 10.0, Gen.Segments((k % 5).toInt)) }, 1),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
    delta = TripleDb.fromWideTable(deltaRows, "customer", "c_custkey",
      fks = Map("c_nationkey" -> "nation")).index()
    Seq(graph.df, delta.df).foreach(_.write.format("noop").mode("overwrite").save())
    toRelease ++= Seq(graph.df, delta.df)
    // warm-up: one entailment
    Frames.res(Rdfs.materializeDelta(delta, ont).df)
  }

  def teardown(): Unit = { toRelease.foreach(_.unpersist(true)); toRelease.clear() }

  def op(i: Int): Op = {
    val kind = kinds(i % passLength)
    Op(kind, kind, write = false, () => kind match {
      case "rdfs_materialize" => trace.span("ops.rdfs.materialize")(Frames.res(Rdfs.materialize(graph, ont).df))
      case "rdfs_delta" => trace.span("ops.rdfs.delta")(Frames.res(Rdfs.materializeDelta(delta, ont).df))
      case "paths_closure" => trace.span("ops.paths.closure")(
        Frames.res(Paths.closure(graph, GeoPreds.map(kw))))
      case "paths_reachable" => trace.span("ops.paths.reachable")(
        Frames.res(Paths.reachable(graph, Seq(kw("o_custkey"), kw("c_nationkey"), kw("n_regionkey")), 2)))
    })
  }

  // ------------------------------------------------------------- oracle

  def check(done: Seq[(Int, Op, Res)]): Set[Int] = {
    val o = new Oracle
    done.collect { case (i, op, r) if !o.agrees(op.kind, r) => i }.toSet
  }

  private final class Oracle {
    private def rows(t: String, cols: String*) =
      spark.read.parquet(s"$base/$t.parquet").select(cols.map(col): _*).collect()
    private val cust = rows("customer", "c_custkey", "c_nationkey").map(r => (r.getLong(0), r.getInt(1)))
    private val supp = rows("supplier", "s_suppkey", "s_nationkey").map(r => (r.getLong(0), r.getInt(1)))
    private val nat = rows("nation", "n_nationkey", "n_regionkey").map(r => (r.getInt(0), r.getInt(1)))
    private val ord = rows("orders", "o_orderkey", "o_custkey").map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 % 10 == orderSlice)
    /** FK edges of the slice: (src, pred, dst). */
    private val fk: Seq[(String, String, String)] =
      cust.map(c => (s"customer/${c._1}", "c_nationkey", s"nation/${c._2}")).toSeq ++
        supp.map(s => (s"supplier/${s._1}", "s_nationkey", s"nation/${s._2}")) ++
        nat.map(n => (s"nation/${n._1}", "n_regionkey", s"region/${n._2}")) ++
        ord.map(o => (s"orders/${o._1}", "o_custkey", s"customer/${o._2}"))
    // non-FK triples per row: customer 3, supplier 2, nation 1, region 1, orders 4
    private val plainTriples = 3L * cust.length + 2L * supp.length + nat.length + Gen.Regions.size +
      4L * ord.length

    /** Distinct triples of a ρdf materialization: instance triples, their
      * super-property copies, domain/range types closed under
      * subClassOf, and the schema with its closures. */
    private def entailedCount(plain: Long, edges: Seq[(String, String, String)]): Long = {
      val t = mutable.HashSet.empty[(String, String, String)]
      edges.foreach { case (s, p, o) =>
        t += ((s, p, o))
        if (GeoPreds.contains(p)) {
          (1 to propDepth).foreach(j => t += ((s, geo(j), o)))
          Seq("geo_thing", "entity").foreach(c => t += ((s, "type", c)))
          ("place" +: (1 to classDepth).map(cls)).foreach(c => t += ((o, "type", c)))
        } else if (p == "o_custkey") t += ((s, "placed_by", o))
      }
      val schema = ontology.size + GeoPreds.size * (propDepth - 1) +
        (propDepth - 1) * (propDepth - 2) / 2 + (classDepth - 1) + (classDepth - 1) * (classDepth - 2) / 2
      plain + t.size + schema
    }

    /** (src, dst) pairs joined by 1..maxHops edges. */
    private def reach(edges: Seq[(String, String)], maxHops: Int): Long = {
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      edges.map(_._1).distinct.map { s =>
        val seen = mutable.HashSet.empty[String]
        var frontier = Seq(s)
        var hop = 0
        while (frontier.nonEmpty && hop < maxHops) {
          frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filter(seen.add)
          hop += 1
        }
        seen.size.toLong
      }.sum
    }

    def agrees(kind: String, r: Res): Boolean = {
      val ok = kind match {
        case "rdfs_materialize" => r.rows == entailedCount(plainTriples, fk)
        case "rdfs_delta" => r.rows == entailedCount(3L * deltaKeys.size,
          deltaKeys.zip(deltaNations).map { case (k, n) => (s"customer/$k", "c_nationkey", s"nation/$n") })
        case "paths_closure" => r.rows == reach(fk.filter(e => GeoPreds.contains(e._2)).map(e => (e._1, e._3)), 99)
        case "paths_reachable" => r.rows == reach(fk.filter(_._2 != "s_nationkey").map(e => (e._1, e._3)), 2)
      }
      if (!ok) System.err.println(s"[bench] $kind: ${r.rows} rows disagree with the oracle")
      ok
    }
  }
}
