package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The BUILD-TIME `spark.sql.extensions=graft.GraftExtensions` path:
  * functions resolve and the asof planner strategy fires with NO manual
  * `register()` / `experimental.extraStrategies` install. (The other
  * specs share one live session, where only registry insertion applies
  * — this suite builds its own session, which is safe because sbt runs
  * forked suites sequentially; the shared `SparkSpec.spark` lazily
  * rebuilds via getOrCreate in later suites.) */
class ExtensionsBuildSpec extends AnyFunSuite {

  test("spark.sql.extensions installs SQL functions and the asof strategy at build") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-extensions-build")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // injected function — no GraftExtensions.register(s) was called
      val d = s.sql(
        """SELECT float_vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                     array(CAST(4.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d"""
          .stripMargin).head().getDouble(0)
      assert(d === 7.0)

      // injected planner strategy: build the AsofJoin logical node
      // directly (NOT via AsofJoin.asof, whose live-session fallback
      // appends to experimental.extraStrategies) and execute it
      assert(s.experimental.extraStrategies.isEmpty)
      import s.implicits._
      val l = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
        .toDF("k", "lts", "ltag")
      val r = Seq((1L, 8L, "r1"), (1L, 15L, "r2"), (2L, 9L, "r3"))
        .toDF("rk", "rts", "rtag")
      val joined = GraftSqlBridge.ofRows(s, graft.plans.AsofJoin(
        GraftSqlBridge.logicalPlan(l), GraftSqlBridge.logicalPlan(r),
        Seq(GraftSqlBridge.expression(l("k"))),
        Seq(GraftSqlBridge.expression(r("rk"))),
        GraftSqlBridge.expression(l("lts")),
        GraftSqlBridge.expression(r("rts"))))
      assert(s.experimental.extraStrategies.isEmpty)
      // the physical node prints under its nodeName, "AsofJoin"
      assert(joined.queryExecution.executedPlan.toString.contains("AsofJoin"))
      val rows = joined.select($"ltag", $"rtag").collect()
        .map(x => (x.getString(0), x.getString(1))).sorted.toSeq
      // l1@10 -> r1@8; l2@20 -> r2@15; l3@5 -> no purchase at/before -> dropped
      assert(rows === Seq(("l1", "r1"), ("l2", "r2")))

      // SQL-TEXT as-of: the injected asof_le function + resolution rule
      // (AsofSqlRewrite) turn a plain INNER JOIN ... ON k-eq AND
      // asof_le(lts, rts) into the AsofJoin node, and the injected
      // strategy plans it — no DataFrame API, no manual install. The
      // marker is Unevaluable, so these results EXISTING proves the
      // rewrite fired (a leftover marker cannot be planned at all).
      l.createOrReplaceTempView("ebs_l")
      r.createOrReplaceTempView("ebs_r")
      val sqlJoined = s.sql(
        """SELECT ltag, rtag FROM ebs_l JOIN ebs_r
          |  ON ebs_l.k = ebs_r.rk AND asof_le(ebs_l.lts, ebs_r.rts)""".stripMargin)
      assert(sqlJoined.queryExecution.executedPlan.toString.contains("AsofJoin"))
      val sqlRows = sqlJoined.collect()
        .map(x => (x.getString(0), x.getString(1))).sorted.toSeq
      assert(sqlRows === Seq(("l1", "r1"), ("l2", "r2")))
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("the build-time and live-session paths expose the same SQL function names") {
    def fresh(extensions: Boolean): SparkSession = {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val b = SparkSession.builder()
        .master("local[2]")
        .appName("graft-extensions-names")
        .config("spark.ui.enabled", "false")
      (if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
       else b).getOrCreate()
    }
    def names(s: SparkSession): Set[String] =
      s.catalog.listFunctions().collect().map(_.name).toSet
    def closed[A](s: SparkSession)(f: SparkSession => A): A =
      try f(s) finally {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    val built = closed(fresh(extensions = true))(names)
    val (plain, live) = closed(fresh(extensions = false)) { s =>
      val before = names(s)
      GraftExtensions.register(s)
      (before, names(s))
    }
    val table = GraftExtensions.functions.map(_._1).toSet
    assert(table.size == GraftExtensions.functions.size,
      "a function name is listed twice in the registration table")
    assert(built -- plain == table,
      s"build-time path: ${built -- plain} vs table $table")
    assert(live -- plain == table,
      s"live-session path: ${live -- plain} vs table $table")
  }
}
