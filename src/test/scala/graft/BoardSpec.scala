package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, SketchOps}

/** Mechanical board-consistency guard (VERDICT r7 #4): every key the
  * engine ships must be documented in SURVEY §2, and every SURVEY §2
  * key row must be a real registered query — keys can no longer land
  * in code without a SURVEY row, or linger in SURVEY after removal,
  * and a row's check cell must name the key's declared check.
  * The committed bench artifact runs SparkEntry.queries directly, so
  * queries == SURVEY rows implies bench coverage too.
  */
class BoardSpec extends AnyFunSuite {

  /** SURVEY §2's key rows: each key with its `check` cell, the row's
    * second-to-last cell (`\|` inside a cell is escaped). */
  private def surveyChecks: Map[String, String] = {
    val lines = scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines().toSeq
    val sec2 = lines.dropWhile(l => !l.startsWith("## §2"))
      .takeWhile(l => !l.startsWith("## §3"))
    // key rows are snake_case first cells; header cells ("key",
    // "component") and infra component names (spaces, capitals,
    // hyphens) don't match
    val keyRe = """^\| ([a-z][a-z0-9_]*) \|""".r
    sec2.flatMap { l =>
      keyRe.findFirstMatchIn(l).map(_.group(1))
        .filterNot(Set("key", "component"))
        .map { k =>
          val cells = l.trim.stripSuffix("|").split("""(?<!\\)\|""")
          k -> cells(cells.length - 2).trim
        }
    }.toMap
  }

  test("SURVEY §2 key rows and SparkEntry.queries are the same set") {
    val survey = surveyChecks
    val code = SparkEntry.queries.keySet
    val undocumented = code -- survey.keySet
    val stale = survey.keySet -- code
    assert(undocumented.isEmpty,
      s"keys implemented but missing a SURVEY §2 row: ${undocumented.toSeq.sorted}")
    assert(stale.isEmpty,
      s"SURVEY §2 rows with no implementation: ${stale.toSeq.sorted}")
    // each row's check cell names the key's declared check
    val declared = SparkEntry.keys.map { case (n, k) =>
      n -> (k.check match { case _: Oracle => "[O]"; case _: NoOracle => "[T]" })
    }
    val wrong = survey.filter { case (k, c) => declared(k) != c }
    assert(wrong.isEmpty,
      "SURVEY §2 check cells that disagree with the key's declared check: " +
        wrong.toSeq.sorted.map { case (k, c) => s"$k=$c (declared ${declared(k)})" })
  }

  test("SparkEntry's key builder throws on a name declared twice, naming it") {
    val dup = SketchOps.keys.head
    val e = intercept[IllegalArgumentException](
      Key.byName(Relational.keys ++ SketchOps.keys :+ dup))
    assert(e.getMessage.contains(dup.name), e.getMessage)
    assert(Key.byName(Relational.keys ++ SketchOps.keys).size ==
      Relational.keys.size + SketchOps.keys.size)
  }

  test("the verify-boundary pin: orderable columns only, identical list on both sides") {
    import TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a frame with an unorderable MapType column: the pin must sort by
    // the orderable columns only, in schema order, and the oracle wrap
    // must carry exactly that list with explicit NULLS FIRST (Spark's
    // asc default vs DuckDB's NULLS LAST default is a live divergence)
    val df = Seq((2, "b"), (1, "a"), (1, null: String))
      .toDF("k", "s")
      .withColumn("m", map(lit("x"), col("k")))
      .select(col("k"), col("m"), col("s"))
    val ord = Verify.pinCols(df)
    assert(ord == Seq("k", "s"), s"orderable columns drifted: $ord")
    val rows = Verify.pinFrame(df, ord)
      .select("k", "s").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, null), (1, "a"), (2, "b")),
      "nulls-first total sort on orderable columns")
    val sql = Verify.pinSqlFor("SELECT 1 AS k", ord)
    assert(sql ==
      "SELECT * FROM (\nSELECT 1 AS k\n) graft_pin ORDER BY " +
        "\"k\" ASC NULLS FIRST, \"s\" ASC NULLS FIRST")
    // empty list = no wrap (all-unorderable outputs dump as-is)
    assert(Verify.pinSqlFor("SELECT 1", Nil) == "SELECT 1")
  }

  test("keys without an oracle are the declared [T]-by-design set") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // the four engine-internal sketch keys; each declaration's
    // NoOracle says why
    val declared = Set("q_approx_distinct", "q_approx_percentile",
      "q_heavy_hitters", "stream_heavy_hitters")
    assert(noOracle == declared,
      s"oracle-free keys drifted from the declared [T] set: " +
        s"extra=${(noOracle -- declared).toSeq.sorted} " +
        s"missing=${(declared -- noOracle).toSeq.sorted}")
  }
}
