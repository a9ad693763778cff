package graft.functions

import org.apache.spark.sql.{AnalysisException, Row}

import graft.{GraftSessions, SparkSpec}

/** The one builder table behind both function routes
  * ([[GraftFunctions.register]] and [[graft.GraftExtensions]]): every
  * function resolves through either, and a wrong argument count is a
  * clean analysis error naming the expected signature. */
class GraftFunctionsSpec extends SparkSpec {

  private val topkSql =
    """SELECT g, graft_topk(s, id, 2, false) AS t
      |FROM VALUES (1, 0.5D, 1L), (1, 0.9D, 2L), (1, 0.7D, 3L) AS v(g, s, id)
      |GROUP BY g""".stripMargin

  test("graft_topk resolves under the extensions alone, without register") {
    val s = GraftSessions.withExtensions(spark)
    val row = s.sql(topkSql).head()
    assert(row.getSeq[Row](1).map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((0.9, 2L), (0.7, 3L)))
    assert(s.sql("SELECT graft_dot(array(1D, 2D), array(3D, 4D))").head()
      .getDouble(0) == 11.0)
  }

  test("every builder resolves through register too") {
    GraftFunctions.register(spark)
    val fr = spark.sessionState.functionRegistry
    GraftFunctions.builders.foreach { case (id, _, _) =>
      assert(fr.lookupFunctionBuilder(id).isDefined, id.funcName)
    }
    assert(spark.sql(topkSql).head().getSeq[Row](1).size == 2)
  }

  test("a wrong-arity call is an AnalysisException naming the signature") {
    GraftFunctions.register(spark)
    val s = GraftSessions.withExtensions(spark)
    for (session <- Seq(spark, s)) {
      val e = intercept[AnalysisException] {
        session.sql("SELECT graft_topk(1D, 1L, 3)").collect()
      }
      assert(e.getMessage.contains("graft_topk(key, id, k, asc)"), e.getMessage)
      assert(e.getMessage.contains("requires 4 parameters"), e.getMessage)
      val b = intercept[AnalysisException] {
        session.sql("SELECT graft_bloom_agg(id, 10L) FROM range(3)").collect()
      }
      assert(b.getMessage.contains("graft_bloom_agg(col[, estItems, numBits])"),
        b.getMessage)
      assert(intercept[AnalysisException] {
        session.sql("SELECT graft_dot(array(1D))").collect()
      }.getMessage.contains("graft_dot(a, b)"))
    }
  }
}
