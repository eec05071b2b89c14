package graft

import graft.functions._
import graft.plans.{AnnTopKRewrite, GraftExtensions}
import org.apache.spark.sql.functions._

/** The custom optimizer-rule surface: AnnTopKRewrite turns exact cosine
  * top-k over an LSH-bucketed store into a bucket-pruned candidate scan —
  * opt-in, plan-visible, and recall-checked against the exact result.
  */
class ExtensionsSpec extends SparkSuite {

  private def probeVec: Array[Float] =
    Tables.embeddings(spark, sf).where(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray

  private def store = Tables.embeddings(spark, sf)
    .where(col("vec_id") =!= 0)
    .withColumn("lsh_b", lsh_bucket(col("embedding"), 12))

  private def topk(k: Int) = store
    .select(col("vec_id"),
      cosine_sim(col("embedding"), lit_vector(probeVec)).as("score"))
    .orderBy(col("score").desc)
    .limit(k)

  test("rule off: plan untouched; rule on: bucket filter appears in the plan") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AnnTopKRewrite
    try {
      spark.conf.set(AnnTopKRewrite.EnabledKey, "false")
      val off = topk(10).queryExecution.optimizedPlan.toString
      assert(!off.contains("bit_count"), off.take(2000))

      spark.conf.set(AnnTopKRewrite.EnabledKey, "true")
      val dfOn = topk(10)
      val on = dfOn.queryExecution.optimizedPlan.toString
      assert(on.contains("bit_count"), on.take(2000))

      // approximate ⊆ exact-within-candidates: every returned row must be
      // within the Hamming radius, exactly ranked
      val exactAll = topk(500).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val approx = dfOn.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length == 10)
      val exactRank = exactAll.map(_._1).toSeq
      // approx results appear in exact order (it's the same scoring,
      // restricted to candidates)
      val positions = approx.map(a => exactRank.indexOf(a._1))
      assert(positions.forall(_ >= 0))
      assert(positions.sameElements(positions.sorted))
      // and recall against exact top-10 matches the measured LSH behavior
      val recall = exactRank.take(10).toSet.intersect(approx.map(_._1).toSet).size
      assert(recall >= 5, s"recall $recall/10")
    } finally {
      spark.conf.unset(AnnTopKRewrite.EnabledKey)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == AnnTopKRewrite)
    }
  }

  test("ann_rewrite_topk does not leak the rewrite into later queries") {
    // run the inventory query itself (it injects the rule + sets the flag
    // internally, and must reset the flag before returning)
    val out = SparkEntry.queries("ann_rewrite_topk")(spark, sf)
    assert(out.count() == 10)
    // the flag must be gone from the session...
    assert(spark.conf.getOption(AnnTopKRewrite.EnabledKey).isEmpty)
    // ...and a literal-probe EXACT top-k issued afterwards must be planned
    // exactly — no Hamming-radius candidate filter smuggled in
    val after = topk(10).queryExecution.optimizedPlan.toString
    assert(!after.contains("bit_count"), after.take(2000))
    // while the query's own result DID run under the rewrite: it matches
    // the exact scoring restricted to bucket candidates (subset, same order)
    val exact = topk(500).collect().map(_.getLong(0)).toSeq
    val approx = out.collect().map(_.getLong(0)).toSeq
    val positions = approx.map(exact.indexOf)
    assert(positions.forall(_ >= 0) && positions.sameElements(positions.sorted))
  }

  test("GraftExtensions registers functions + rule on a fresh session") {
    val df = spark.newSession() // same context; check injection path compiles
    // withExtensions route: build on the existing context
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // getOrCreate may return the default session (extensions apply only to
    // new sessions); the registration API itself is exercised either way —
    // verify at minimum the SQL function path works with registerAll
    functions.registerAll(s2)
    val r = s2.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
