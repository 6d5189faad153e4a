package graft

/** The SQL-only surface: [[GraftSession.registerViews]] makes every
  * graded operator a `graft_<name>` temp view, so a user of the
  * reference's notebook-SQL workflow can drive this engine with
  * nothing but `spark.sql`. Representative operators from five
  * different families run end-to-end through SQL ONLY here and must
  * return exactly what the Scala API returns — same plan, same rows.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every view, registered once for the suite: each registration
    * rebuilds all of them and reruns their build-time jobs.
    */
  private lazy val registered: Unit = GraftSession.registerViews(spark, dir)

  private def viaSql(name: String) =
    spark.sql(s"SELECT * FROM graft_$name").collect().map(_.toSeq).toSet
  private def viaApi(name: String) =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSet

  test("registerViews exposes base tables and all operators as SQL views") {
    registered
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    GraftSession.TableNames.foreach(t => assert(views.contains(t), t))
    SparkEntry.queries.keys.foreach(q =>
      assert(views.contains(s"graft_$q"), s"graft_$q"))
    // base views are queryable SQL tables
    assert(spark.sql("SELECT count(*) AS n FROM lineitem").head().getLong(0) > 0)
  }

  test("five operator families answer through spark.sql only, matching the API") {
    registered
    val names = Seq(
      "agg_region_pct",      // relational agg
      "dedup_minhash_lsh",   // dedup family
      "embed_cosine_topk",   // similarity family
      "bm25_search",         // text family
      "events_sessionize")   // streaming-semantics family (batch form)
    for (n <- names) {
      val sql = viaSql(n)
      assert(sql.nonEmpty, s"$n returned no rows through SQL")
      assert(sql == viaApi(n), s"$n: SQL view != API result")
    }
  }

  test("session conf parameterizes a view at build time; defaults restore") {
    spark.conf.set("spark.graft.ann.topK", "2")
    try {
      GraftSession.registerView(spark, dir, "embed_cosine_topk")
      val perQuery = spark.sql("SELECT query_id, count(*) AS n " +
          "FROM graft_embed_cosine_topk GROUP BY query_id")
        .collect().map(_.getLong(1)).toSet
      assert(perQuery == Set(2L), s"conf topK=2 not honored: $perQuery")
    } finally spark.conf.unset("spark.graft.ann.topK")
    // without the conf, re-registration restores the graded default (5)
    GraftSession.registerView(spark, dir, "embed_cosine_topk")
    assert(viaSql("embed_cosine_topk") == viaApi("embed_cosine_topk"))
  }

  test("SQL composed OVER a graft view optimizes like any subquery") {
    registered
    // a user-side filter over the view must survive into the plan (the
    // view is a lazy logical plan, not a materialized snapshot)
    val d = spark.sql("SELECT * FROM graft_avg_duration_by_priority " +
      "WHERE o_orderpriority = '1-URGENT'")
    assert(d.collect().map(_.getString(0)).toSet == Set("1-URGENT"))
    // the group-key predicate must push BELOW the view's aggregate —
    // proof the view is a plan, not a snapshot the filter runs on top of
    // (agg_region_pct would be the wrong probe: its percent-of-total
    // window correctly BLOCKS pushdown, or the total would change)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val agg = d.queryExecution.optimizedPlan
      .collectFirst { case a: Aggregate => a }
    assert(agg.isDefined)
    val pushed = agg.get.collectFirst {
      case f: Filter if f.condition.toString.contains("1-URGENT") => f }
    assert(pushed.isDefined, "priority filter did not push below the aggregate")
  }
}
