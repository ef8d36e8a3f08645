package graft

import java.sql.{Connection, DriverManager}
import java.util.Locale
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import org.duckdb.DuckDBConnection

import scala.io.{Codec, Source}

/** Pins every DuckDB oracle's result at sf0.001: each `SparkEntry.oracleSql`
  * entry, run single-threaded over the same table views `tools/check.py`
  * creates, must give the (row count, digest) recorded in
  * `oracle_pins.txt`. An oracle edit that changes no result keeps its pin;
  * one that moves a pin changes what the Spark side is compared against.
  */
class OracleSpec extends SparkSpec {

  private val Workers = 4
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** name -> "rows digest", as written in the pins file. */
  private lazy val pins: Map[String, String] =
    Source.fromResource("oracle_pins.txt")(Codec.UTF8).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, rest) = l.split(" ", 2); n -> rest }.toMap

  test("the oracle key set is the pinned one") {
    assert(pins.size == 203)
    assert(SparkEntry.oracleSql.keySet == pins.keySet)
  }

  test("every oracle's DuckDB result equals its pin") {
    val conn = DriverManager.getConnection("jdbc:duckdb:").asInstanceOf[DuckDBConnection]
    try {
      val st = conn.createStatement()
      // one thread per query, so every double fold runs in one fixed
      // order; Workers connections run separate queries side by side
      st.execute("SET threads=1")
      Tables.foreach { t =>
        val p = s"$sf/$t.parquet"
        if (new java.io.File(p).exists) st.execute(s"CREATE VIEW $t AS SELECT * FROM '$p'")
      }
      st.close()
      val todo = new ConcurrentLinkedQueue[(String, String)]()
      SparkEntry.oracleSql.foreach(todo.add)
      val pool = Executors.newFixedThreadPool(Workers)
      val got = try (1 to Workers).map { _ =>
          pool.submit(new Callable[Map[String, String]] {
            def call(): Map[String, String] = {
              val c = conn.duplicate()
              try Iterator.continually(todo.poll()).takeWhile(_ != null)
                .map { case (name, sql) => name -> OracleSpec.digest(c, sql) }.toMap
              finally c.close()
            }
          })
        }.flatMap(_.get).toMap
      finally pool.shutdown()
      val drifted = got.toSeq.sortBy(_._1).collect {
        case (name, d) if !pins.get(name).contains(d) =>
          s"$name $d (pinned: ${pins.getOrElse(name, "none")})"
      }
      assert(got.size == SparkEntry.oracleSql.size)
      assert(drifted.isEmpty, drifted.mkString("\n", "\n", ""))
    } finally conn.close()
  }
}

object OracleSpec {
  /** Canonical text of one JDBC value: doubles at 9 significant digits
    * (the rule of the benchmark's result check) in the root locale, so the
    * digest does not depend on the JVM's decimal separator, lists and structs
    * rendered element-wise, maps with their entries sorted.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => val x = d.doubleValue
      if (x.isNaN || x.isInfinite) x.toString else "%.9g".formatLocal(Locale.ROOT, x)
    case f: java.lang.Float => value(f.doubleValue)
    case a: java.sql.Array => a.getArray.asInstanceOf[Array[AnyRef]].map(value).mkString("[", ",", "]")
    case s: java.sql.Struct => s.getAttributes.map(value).mkString("(", ",", ")")
    case m: java.util.Map[_, _] =>
      val es = m.entrySet.toArray.map(_.asInstanceOf[java.util.Map.Entry[_, _]])
      es.map(e => value(e.getKey) + "->" + value(e.getValue)).sorted.mkString("{", ",", "}")
    case b: java.sql.Blob => b.getBytes(1, b.length.toInt).map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** "rows digest" of one query: the column labels, then the rows' canonical
    * text sorted, hashed with SHA-256 (first 8 bytes), so row order is ignored.
    */
  def digest(conn: Connection, sql: String): String = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => cols.indices.map(i => value(r.getObject(i + 1))).mkString("(", ",", ")")).toVector
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      (cols.mkString(",") +: rows.sorted).foreach { s => sha.update(s.getBytes("UTF-8")); sha.update('\n'.toByte) }
      s"${rows.size} ${sha.digest().take(8).map("%02x".format(_)).mkString}"
    } finally st.close()
  }
}
