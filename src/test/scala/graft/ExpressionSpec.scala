package graft

import graft.functions.functions._
import org.apache.spark.sql.functions._

/** Native Catalyst expressions: codegen and interpreted paths agree with
  * the pure functions, SQL registration works, and the expression stays
  * inside WholeStageCodegen.
  */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  lazy val urls = (0 until 200).map { i =>
    fixtures.Fixtures.noisyUrl(
      fixtures.Fixtures.Hosts(i % 12), i % 5, i, fixtures.Fixtures.mix(3L, i.toLong))
  }

  test("canon_url == UrlCanon.canonicalize (codegen path)") {
    val got = urls.toDF("url").select(canon_url($"url")).as[String].collect()
    assert(got.toSeq == urls.map(core.UrlCanon.canonicalize))
  }

  test("canon_url: null propagates") {
    val n = Seq[(String, Int)]((null, 1)).toDF("url", "x")
      .select(canon_url($"url")).collect()
    assert(n.head.isNullAt(0))
  }

  test("SQL registration: SELECT canon_url(...)") {
    register(spark)
    urls.toDF("url").createOrReplaceTempView("urls_v")
    val got = spark.sql("SELECT canon_url(url) AS c FROM urls_v").as[String].collect()
    assert(got.toSeq == urls.map(core.UrlCanon.canonicalize))
  }

  test("expression participates in whole-stage codegen") {
    // needs a non-local scan for a codegen stage to exist
    val plan = spark.range(100)
      .select(canon_url(concat(lit("HTTPS://H.example/p/"), $"id", lit("/"))).as("c"))
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators inside WholeStageCodegen stage n
    assert(plan.contains("*(1) Project [canonicalizeurl"), plan)
  }
}
