package graft

import org.apache.spark.sql.SparkSession

/** The `spark.sql.extensions` deployment path: a session built with
  * `graft.GraftExtensions` must expose the SQL function surface with no
  * programmatic registration call.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("a session built with graft.GraftExtensions speaks the graft SQL surface") {
    val base = spark // force the shared context into existence first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // the same instance `spark.sql.extensions=graft.GraftExtensions`
      // loads reflectively at deploy time, applied through the public
      // builder hook (a static conf cannot be planted on a running
      // context from test code)
      val s2 = SparkSession.builder().withExtensions(new GraftExtensions()).getOrCreate()
      assert(s2 ne base, "must be a fresh session, not the suite's")
      // scalar expression via plain SQL, no register() call anywhere
      val d = s2.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
        .head.getDouble(0)
      assert(d == 11.0, s"got $d")
      // an injected AGGREGATE resolves too
      val k = s2.sql(
        "SELECT graft_kmv(h, 3) AS k FROM (SELECT CAST(id AS BIGINT) AS h FROM range(10))")
        .head.getSeq[Long](0)
      assert(k == Seq(0L, 1L, 2L), s"got $k")
      // and DESCRIBE FUNCTION knows it (the ExpressionInfo landed)
      val desc = s2.sql("DESCRIBE FUNCTION graft_simhash").collect().map(_.getString(0))
      assert(desc.exists(_.contains("graft_simhash")), desc.mkString("; "))
      // COMPLETENESS: every registered builder resolves in the injected
      // session — a function added to register() but missed by the
      // injection list (or vice versa; one shared list today, but this is
      // the spec that keeps it one) would strand SQL users
      graft.functions.GraftFunctions.builders.foreach { case (name, _, _) =>
        val d = s2.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
        assert(d.exists(_.contains(name)), s"$name missing from the injected session")
      }
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("register() is once-per-session: repeat calls do not re-replace functions") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    graft.functions.GraftFunctions.register(spark)
    val reg = spark.sessionState.functionRegistry
    // plant a marker in graft_dot's slot, then call register() again —
    // the per-session guard must make it a no-op (operator entry points
    // call it on EVERY invocation; without the guard a bench run logs
    // ~6400 replaced-function warnings and any user override is clobbered
    // mid-session)
    reg.createOrReplaceTempFunction("graft_dot",
      es => org.apache.spark.sql.catalyst.expressions.Literal(42.0d), "built-in")
    graft.functions.GraftFunctions.register(spark)
    try {
      import org.apache.spark.sql.functions._
      val d = spark.range(1)
        .select(call_function("graft_dot", lit(1.0f), lit(2.0f)))
        .head.getDouble(0)
      assert(d == 42.0, s"repeat register() replaced the marker: got $d")
    } finally {
      // restore the real builder, arity gate included, for every spec that
      // runs after this one
      reg.dropFunction(FunctionIdentifier("graft_dot"))
      reg.createOrReplaceTempFunction("graft_dot",
        graft.functions.GraftFunctions.checkedBuilder("graft_dot"), "built-in")
    }
  }
}
