package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's last stdout line is scraped as bare JSON, and only its
  * first 8 KB are kept; it holds every `SparkEntry.queries` key. */
class BenchLineSpec extends AnyFunSuite {
  private val keys = SparkEntry.queries.keys.toSeq.sorted
  private val sf = TestSpark.sf

  private def line(results: Seq[(String, Double)]): String =
    Bench.oneLine(results, results.map(_._2).filter(_ >= 0).sum, sf, 1.234567)

  test("the bench line fits 8 KB with every key at the widest value of each magnitude") {
    Seq(0.12345, 0.012345, 9.9994, 99.994, 999.94, 9999.4).foreach { v =>
      val bytes = line(keys.map(_ -> v)).getBytes("UTF-8").length
      assert(bytes <= 8192, s"$bytes bytes with every key at $v s")
    }
  }

  test("the bench line is JSON holding every key within rounding of its input") {
    // spread over 10^-5 .. 10^4 s, every 37th key a failed (-1) one
    val inputs = keys.zipWithIndex.map { case (k, i) =>
      k -> (if (i % 37 == 5) -1.0 else math.pow(10, -5 + 9.0 * i / keys.size) * 1.2345)
    }
    val json = new ObjectMapper().readTree(line(inputs))
    assert(json.get("metric").asText == "total" && json.get("sf").asText == sf)
    val qs = json.get("queries")
    assert(qs.size == keys.size)
    inputs.foreach { case (k, v) =>
      assert(qs.has(k), s"$k missing")
      val got = qs.get(k).asDouble
      if (v == -1.0) assert(qs.get(k).toString == "-1", k)
      else if (v < 0.1) assert(math.abs(got - v) <= 0.00005 + 1e-12, s"$k: $got for $v")
      else assert(math.abs(got - v) <= 0.0005 * v + 1e-12, s"$k: $got for $v")
    }
  }
}
