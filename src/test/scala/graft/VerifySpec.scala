package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness dump's contract: every query has exactly one oracle, and
  * a query that throws is reported and leaves no output behind — so a
  * reused out dir cannot hand the oracle compare a stale result.
  */
class VerifySpec extends SparkSpec {

  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries -- oracles == Set.empty[String], "queries without an oracle")
    assert(oracles -- queries == Set.empty[String], "oracles without a query")
  }

  test("a throwing query is reported and leaves no directory, even a stale one") {
    val out = Files.createTempDirectory("graft-verify").toString
    // a result left by an earlier run in the same out dir
    spark.range(3).toDF("id").write.parquet(s"$out/q_bad")
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s, _) => s.range(2).toDF("id")),
      "q_bad" -> ((s, _) => s.range(2).toDF("id")
        .map(r => if (r.getLong(0) == 1L) sys.error("boom") else r.getLong(0))(
          org.apache.spark.sql.Encoders.scalaLong).toDF("id")))
    val failed = Verify.dump(spark, "unused", out, queries)
    assert(failed == Seq("q_bad"))
    assert(!new File(s"$out/q_bad").exists(), "stale or partial output survived")
    assert(spark.read.parquet(s"$out/q_ok").count() == 2L)
    val json = new String(Files.readAllBytes(Paths.get(s"$out/oracle_sql.json")), "UTF-8")
    assert(json.contains("\"q_mesh_quality\""))
  }
}
