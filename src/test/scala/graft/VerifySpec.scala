package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Verify.run]]'s artifacts: a parquet dir and a timing per passing
  * key, `_ERROR` and a `_failures.json` entry for a key that throws,
  * the oracles of the real keys, and the caller's session left open. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("run writes parquet, timings, failures and oracles, and leaves the session open") {
    val out = Files.createTempDirectory("graft_verify").toString
    val real = Seq("q1_pricing_summary", "q3_shipping_priority")
    val queries: Map[String, Verify.Query] =
      real.map(k => k -> SparkEntry.queries(k)).toMap +
        ("boom" -> ((_, _) => throw new IllegalStateException("boom query")))
    Verify.run(spark, "/root/testdata/sf0.001", out, queries)

    val json = new ObjectMapper()
    def read(name: String) = json.readTree(Paths.get(out, name).toFile)
    val timings = read("_timings.json")
    for (k <- real) {
      assert(Files.exists(Paths.get(out, k, "_SUCCESS")), k)
      assert(spark.read.parquet(s"$out/$k").count() > 0, k)
      assert(timings.get(k).asDouble() >= 0.0, k)
    }
    assert(timings.has("boom"))

    assert(Files.readString(Paths.get(out, "boom", "_ERROR")).startsWith("boom query"))
    assert(read("_failures.json").get("boom").asText() === "boom query")
    assert(real.forall(read("_failures.json").get(_) == null))

    val oracles = read("oracle_sql.json")
    assert(real.forall(oracles.has))
    assert(!oracles.has("boom"))

    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() === 3)
  }
}
