package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Fixpoint

class FixpointSpec extends AnyFunSuite {
  import TestSpark._

  private def xs(n: Int): DataFrame = spark.range(0, n, 1, 4).toDF("x")
  private def positive(cur: DataFrame): DataFrame = cur.filter(col("x") > 0)
  // x -> max(x - 16, 0): x < 64 converges in at most 4 rounds
  private def shrink(cur: DataFrame): DataFrame =
    cur.select(greatest(col("x") - 16, lit(0L)).as("x"))

  test("Fixpoint.converge throws at its round cap, naming the loop") {
    var steps = 0
    val err = intercept[IllegalStateException] {
      Fixpoint.converge(xs(8), 3, "never-settles") { cur =>
        steps += 1
        cur
      }(positive)
    }
    assert(steps == 3)
    assert(err.getMessage.contains("never-settles") &&
      err.getMessage.contains("3 rounds"), err.getMessage)
  }

  test("Fixpoint.converge runs no round from a converged start") {
    var steps = 0
    val (out, rounds) = Fixpoint.converge(xs(8).select(lit(0L).as("x")), 3,
      "settled") { cur =>
      steps += 1
      cur
    }(positive)
    assert(rounds == 0 && steps == 0)
    assert(out.count() == 8)
  }

  test("Fixpoint.converge's checkpoints add no job to its pending counts") {
    // under AQE one count() may be several jobs: measure one count of a
    // pinned frame of the same shape, then expect rounds + 1 of them
    val probe = xs(40).localCheckpoint(eager = false)
    val perCount = Probe.measure(spark)(positive(probe).count())._2.jobs
    val ((out, rounds), counts) = Probe.measure(spark) {
      Fixpoint.converge(xs(40), 10, "shrink")(shrink)(positive)
    }
    val jobs = counts.jobs
    assert(rounds == 3) // max x: 39 -> 23 -> 7 -> 0
    assert(perCount >= 1 && jobs == (rounds + 1) * perCount,
      s"$jobs jobs for $rounds rounds at $perCount jobs per count")
    assert(out.filter(col("x") =!= 0).count() == 0 && out.count() == 40)
  }

  test("the two loop keys equal their oracle SQL run by Spark's native WITH RECURSIVE") {
    // a different algorithm (linear recursion, one round per hop)
    // over the same parent formula; DuckDB's HUGEINT is Spark's
    // DECIMAL(38,0)
    val native = Map(
      "q_hierarchy" -> SparkEntry.oracleSql("q_hierarchy"),
      "q_bom_explosion" ->
        SparkEntry.oracleSql("q_bom_explosion").replace("HUGEINT", "DECIMAL(38,0)"))
    for (dir <- Seq(sf, "/root/testdata/sf0.01"); (key, sql) <- native) {
      // the views live in a child session, so no other spec sees them
      val s = spark.newSession()
      Seq("orders", "part").foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t))
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      val expected = rows(s.sql(sql))
      val got = rows(SparkEntry.queries(key)(spark, dir))
      assert(expected.nonEmpty && got == expected,
        s"$key at $dir: ${got.size} rows from the key, ${expected.size} from native recursion")
    }
  }

  test("Fixpoint.unroll runs no job until the consumer's action") {
    val (out, counts) = Probe.measure(spark) {
      Fixpoint.unroll(xs(40), 2)((cur, _) => shrink(cur))
    }
    val jobs = counts.jobs
    assert(jobs == 0)
    assert(out.agg(max("x")).head.getLong(0) == 7L)
  }
}
