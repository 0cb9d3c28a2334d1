package graft

import graft.core.{QuadDb, Term, Tombstones, TripleDb}
import graft.core.Term._
import graft.ops.GraphMgmt
import graft.sparql.{InsertData, SparqlUpdate}

/** SPARQL Update §3.2 graph management (ops/GraphMgmt): value forms
  * over [[QuadDb]]s and durable delta forms over saved stores. */
class GraphMgmtSpec extends GraftSpec {

  private val g1 = u("g1")
  private val g2 = u("g2")
  private val g3 = u("g3")

  private def base: QuadDb = QuadDb.fromQuads(spark, Seq(
    (k("a"), k("p"), l(1), g1),
    (k("a"), k("p"), l(2), g1),
    (k("b"), k("q"), l(3), g2),
    (k("a"), k("p"), l(1), g2), // same triple as g1's — distinct fact
    (k("c"), k("r"), l(4), QuadDb.DefaultGraph)))

  private def quadSet(db: QuadDb) = db.quads.toSet

  test("value forms: CLEAR/DROP, CLEAR DEFAULT/ALL, COPY, MOVE, ADD — " +
      "spec semantics incl. from == to no-ops and no duplicate facts") {
    val d = base
    assert(quadSet(GraphMgmt.clear(d, g1)) ==
      quadSet(d).filterNot(_._4 == g1))
    assert(quadSet(GraphMgmt.clearDefault(d)) ==
      quadSet(d).filterNot(_._4 == QuadDb.DefaultGraph))
    assert(quadSet(GraphMgmt.clearAll(d)).isEmpty)
    // COPY: destination replaced by the source's data; source kept
    val copied = GraphMgmt.copy(d, g1, g2)
    assert(quadSet(copied) == Set(
      (k("a"), k("p"), l(1), g1), (k("a"), k("p"), l(2), g1),
      (k("a"), k("p"), l(1), g2), (k("a"), k("p"), l(2), g2),
      (k("c"), k("r"), l(4), QuadDb.DefaultGraph)))
    // MOVE: as COPY, source dropped
    val moved = GraphMgmt.move(d, g1, g2)
    assert(quadSet(moved) == Set(
      (k("a"), k("p"), l(1), g2), (k("a"), k("p"), l(2), g2),
      (k("c"), k("r"), l(4), QuadDb.DefaultGraph)))
    // ADD: union into the destination, shared facts NOT duplicated
    val added = GraphMgmt.add(d, g1, g2)
    assert(quadSet(added) == quadSet(d) ++ Set(
      (k("a"), k("p"), l(2), g2))) // (a p 1) was already in g2
    assert(added.df.count() == d.df.count() + 1) // bag-level: no dupes
    // from == to: no-ops per spec
    assert(quadSet(GraphMgmt.copy(d, g1, g1)) == quadSet(d))
    assert(quadSet(GraphMgmt.move(d, g1, g1)) == quadSet(d))
    assert(quadSet(GraphMgmt.add(d, g1, g1)) == quadSet(d))
    // clearing an absent graph is a no-op (no graph containers)
    assert(quadSet(GraphMgmt.clear(d, g3)) == quadSet(d))
  }

  test("value LOAD INTO GRAPH: document triples merge into the graph " +
      "set-semantically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_nt").toString
    graft.sources.NTriples.save(db(
      (k("a"), k("p"), l(1)), // already asserted in g1
      (k("x"), k("y"), l(9))), tmp)
    val loaded = GraphMgmt.load(base, spark, tmp, "ntriples", g1)
    assert(quadSet(loaded) == quadSet(base) + ((k("x"), k("y"), l(9), g1)))
    assert(loaded.df.count() == base.df.count() + 1)
    intercept[IllegalArgumentException] {
      GraphMgmt.readTriples(spark, tmp, "xml")
    }
  }

  test("durable lifecycle: LOAD INTO staging → ADD to live → MOVE to " +
      "archive → DROP archive ≡ a store built directly; deltas only") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_dur").toString
    val store = s"$tmp/store"
    QuadDb.save(base, store)
    // the document: one fact already live in g1, one novel
    val ntDir = s"$tmp/nt"
    graft.sources.NTriples.save(db(
      (k("a"), k("p"), l(1)), (k("x"), k("y"), l(9))), ntDir)
    val staging = u("staging"); val live = u("live"); val archive = u("archive")
    GraphMgmt.loadInto(spark, store, ntDir, "ntriples", staging)
    GraphMgmt.addGraph(spark, store, staging, live)
    GraphMgmt.moveGraph(spark, store, staging, archive)
    GraphMgmt.dropGraph(spark, store, archive)
    val got = quadSet(QuadDb.load(spark, store))
    assert(got == quadSet(base) ++ Set(
      (k("a"), k("p"), l(1), live), (k("x"), k("y"), l(9), live)))
    // staging and archive are gone
    assert(!got.exists(q => q._4 == staging || q._4 == archive))
    // durable COPY overwrites the destination graph
    GraphMgmt.copyGraph(spark, store, g1, live)
    val afterCopy = quadSet(QuadDb.load(spark, store))
    assert(afterCopy.filter(_._4 == live) == Set(
      (k("a"), k("p"), l(1), live), (k("a"), k("p"), l(2), live)))
    assert(afterCopy.filter(_._4 == g1) ==
      quadSet(base).filter(_._4 == g1)) // source kept
    // compaction reclaims the tombstoned graphs physically; loads agree
    QuadDb.compact(spark, store)
    assert(quadSet(QuadDb.load(spark, store)) == afterCopy)
  }

  test("durable MOVE (batched, round 16): one data append + one " +
      "tombstone append — overlapping destination rows survive, " +
      "replaced rows and the whole source are tombstoned, value-form " +
      "parity, empty-source MOVE clears the destination") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_mv").toString
    val store = s"$tmp/store"
    QuadDb.save(base, store)
    // g1 = {(a p 1) (a p 2)}, g2 = {(b q 3) (a p 1)}: (a p 1) overlaps
    GraphMgmt.moveGraph(spark, store, g1, g2)
    val got = quadSet(QuadDb.load(spark, store))
    // ≡ the value-form MOVE on the same data
    assert(got == quadSet(GraphMgmt.move(base, g1, g2)))
    assert(got == Set(
      (k("a"), k("p"), l(1), g2), (k("a"), k("p"), l(2), g2),
      (k("c"), k("r"), l(4), QuadDb.DefaultGraph)))
    // MOVE from a graph with no live quads clears the destination
    // (value-form semantics: to := from's — empty — data)
    GraphMgmt.moveGraph(spark, store, g3, g2)
    val cleared = quadSet(QuadDb.load(spark, store))
    assert(cleared == Set((k("c"), k("r"), l(4), QuadDb.DefaultGraph)))
    // from == to: no-op
    GraphMgmt.moveGraph(spark, store, g3, g3)
    assert(quadSet(QuadDb.load(spark, store)) == cleared)
    // compaction agrees (tombstones were well-formed)
    QuadDb.compact(spark, store)
    assert(quadSet(QuadDb.load(spark, store)) == cleared)
  }

  /** Spark jobs started by `body`, the listener bus drained on both
    * sides so no earlier or later job is counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def dataFiles(store: String): Int = {
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") &&
          !p.toString.contains(Tombstones.Dir)) n += 1
    }
    n
  }

  test("opening a durable store runs no Spark job: QuadDb.load, " +
      "TripleDb.load and both frame-only opens, with tombstones present") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_open").toString
    val qs = s"$tmp/quads"
    QuadDb.save(base, qs)
    GraphMgmt.clearGraph(spark, qs, g2)
    val ts = s"$tmp/triples"
    TripleDb.save(base.toTriples, ts)
    TripleDb.deleteSubjects(spark, ts, db((k("b"), k("q"), l(3))).df)
    assert(Tombstones.exist(spark, qs) && Tombstones.exist(spark, ts))
    var q: QuadDb = null
    var t: TripleDb = null
    assert(jobsDuring {
      q = QuadDb.load(spark, qs)
      t = TripleDb.load(spark, ts)
      QuadDb.loadFrame(spark, qs)
      TripleDb.layout.frame(spark, ts)
    } == 0)
    // the opened stores answer as before: masked rows gone, one slice
    // per keyword predicate directory, stats from file metadata
    assert(quadSet(q) == quadSet(base).filterNot(_._4 == g2))
    assert(q.predIndex.keySet == Set("p", "q", "r"))
    assert(q.predIndex("p").count() == 2)
    assert(q.stats.keySet == q.predIndex.keySet && q.stats.values.forall(_ > 0))
    assert(t.triples.toSet == Set(
      (k("a"), k("p"), l(1)), (k("a"), k("p"), l(2)), (k("c"), k("r"), l(4))))
    assert(t.predIndex.keySet == Set("p", "q", "r"))
  }

  test("INSERT DATA of quads that are already live adds no data file; " +
      "a novel quad is appended") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_ins").toString
    val store = s"$tmp/store"
    QuadDb.save(base, store)
    val before = dataFiles(store)
    SparqlUpdate.run(spark, store, Seq(InsertData(base.quads)))
    assert(dataFiles(store) == before)
    assert(quadSet(QuadDb.load(spark, store)) == quadSet(base))
    val novel = (k("d"), k("p"), l(5), g3)
    SparqlUpdate.run(spark, store, Seq(InsertData(Seq(novel))))
    assert(dataFiles(store) > before)
    assert(quadSet(QuadDb.load(spark, store)) == quadSet(base) + novel)
  }

  test("a store whose only keyword predicate looks numeric (2020) " +
      "saves and loads, for QuadDb and TripleDb") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_num").toString
    val facts = Seq((k("a"), k("2020"), l(1)), (k("b"), k("2020"), l(2)))
    TripleDb.save(db(facts: _*), s"$tmp/triples")
    val t = TripleDb.load(spark, s"$tmp/triples")
    assert(t.triples.toSet == facts.toSet)
    assert(t.predIndex.keySet == Set("2020"))
    assert(t.predIndex("2020").count() == 2)
    val quads = facts.map { case (s, p, o) => (s, p, o, g1) }
    QuadDb.save(QuadDb.fromQuads(spark, quads), s"$tmp/quads")
    val q = QuadDb.load(spark, s"$tmp/quads")
    assert(quadSet(q) == quads.toSet)
    assert(q.predIndex.keySet == Set("2020"))
    assert(q.predIndex("2020").count() == 2)
  }

  test("compaction refuses to run over a leftover _compact_staging " +
      "(an earlier swap's rows may live only there); tombstones stay") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gm_stage").toString
    val store = s"$tmp/store"
    QuadDb.save(base, store)
    GraphMgmt.clearGraph(spark, store, g2)
    val live = quadSet(QuadDb.load(spark, store))
    val staging = new java.io.File(s"$store/_compact_staging")
    assert(staging.mkdir())
    val e = intercept[java.io.IOException](QuadDb.compact(spark, store))
    assert(e.getMessage.contains("_compact_staging exists"))
    assert(Tombstones.exist(spark, store))
    assert(quadSet(QuadDb.load(spark, store)) == live)
    assert(staging.delete())
    QuadDb.compact(spark, store)
    assert(!Tombstones.exist(spark, store))
    assert(quadSet(QuadDb.load(spark, store)) == live)
  }
}
