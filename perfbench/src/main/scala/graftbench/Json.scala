package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** JSON and digest helpers shared by the workloads. */
object Json {
  val mapper = new ObjectMapper()

  def str(s: String): String = mapper.writeValueAsString(s)

  /** A finite number with every digit (non-finite values print as a
    * large sentinel, which no metric reaches when operations succeed). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "1e18" else java.math.BigDecimal.valueOf(v).toPlainString

  def flat(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"  ${str(k)}: ${str(v)}" }.mkString("{\n", ",\n", "\n}\n")

  def parseFlat(text: String): Map[String, String] =
    mapper.readTree(text).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  def tree(text: String): JsonNode = mapper.readTree(text)

  /** 64-bit hash of a string (two independent 32-bit murmur halves). */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  /** Order-independent digest of a multiset of canonical row strings. */
  def digest(rows: Iterable[String]): String =
    java.lang.Long.toHexString(rows.foldLeft(0L)((acc, r) => acc + hash64(r)))

  /** Canonical form of a SPARQL JSON term: IRIs and plain literals by
    * value, numeric literals by their decimal value. */
  def term(n: JsonNode): String = {
    val v = n.get("value").asText()
    val dt = Option(n.get("datatype")).map(_.asText()).getOrElse("")
    if (dt.endsWith("#double") || dt.endsWith("#integer") || dt.endsWith("#decimal"))
      number(BigDecimal(v))
    else v
  }

  def number(d: BigDecimal): String = d.bigDecimal.stripTrailingZeros.toPlainString

  /** Rows of a sparql-results+json SELECT body as canonical strings
    * (`var=value` pairs in variable order; unbound variables omitted). */
  def selectRows(body: String): Seq[String] = {
    val t = tree(body)
    val vars = t.get("head").get("vars").elements().asScala.map(_.asText()).toSeq
    t.get("results").get("bindings").elements().asScala.map { b =>
      vars.flatMap(v => Option(b.get(v)).map(x => s"$v=${term(x)}")).mkString(" ")
    }.toSeq
  }

  def askValue(body: String): Boolean = tree(body).get("boolean").asBoolean()
}
