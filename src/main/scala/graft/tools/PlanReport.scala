package graft.tools

import graft.Harness

/** Fleet-wide plan audit: build every SparkEntry query and report its
  * physical-plan shape — shuffle Exchange count and BroadcastExchange
  * count — plus a distribution summary. The per-query shuffle-ceiling
  * spec (PlanShapeSpec) pins the NAMED hot paths; this tool is the
  * whole-surface census behind the PLANS.md evidence tables. Given face
  * names, it prints their explain(formatted) plans instead.
  *
  * Runs at local[SPARK_GRAFT_CPUS] (default 8); at 32 cores on sf0.1 the
  * plans are the ones `graft.Bench` runs.
  *
  * Note: streaming queries execute through their harness and return the
  * memory-sink table, so their reported plan is the sink read (0
  * exchanges) — their stateful shapes are audited in StreamingSpec /
  * PLANS.md instead. Roundtrip queries execute their writes as a side
  * effect of query construction; run against sf0.001 to keep that cheap.
  *
  * Usage: runMain graft.tools.PlanReport [sfDir [face…]]
  */
object PlanReport {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val faces = args.drop(1).toSeq
    val spark = Harness.session(Harness.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    try graft.queries.BucketedTables.ensure(spark, dir)
    catch { case e: Throwable => System.err.println(s"[plan] bucket staging failed: $e") }
    def plan(name: String): String = graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

    if (faces.nonEmpty) faces.foreach { name =>
      println(s"\n======== $name ========")
      try println(plan(name))
      catch { case e: Throwable => println(s"explain failed: $e") }
      Harness.sweep(spark)
    } else census(spark, plan)
    spark.stop()
  }

  private def census(spark: org.apache.spark.sql.SparkSession, plan: String => String): Unit = {
    val exRe = raw"\(\d+\) Exchange\b".r
    val bexRe = raw"\(\d+\) BroadcastExchange\b".r
    // (no codegen-span column: under AQE the pre-execution formatted plan
    // carries no codegen-stage annotations — span audits live in the
    // executed-plan specs instead)
    var results = Vector.empty[(String, Int, Int)]
    var errors = Vector.empty[String]
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val p = plan(name)
        val t = (name, exRe.findAllIn(p).size, bexRe.findAllIn(p).size)
        results :+= t
        println(f"[plan] ${t._1}%-24s exchanges=${t._2}%2d broadcast=${t._3}%2d")
      } catch { case e: Throwable =>
        errors :+= name
        println(s"[plan] $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // side-effecting queries (streams, roundtrips) leave caches/views
      Harness.sweep(spark)
    }
    val dist = results.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k->${v.size}" }.mkString(" ")
    println(s"[plan] === ${results.size} queries, errors=${errors.size} ${errors.mkString(",")}")
    println(s"[plan] === exchange-count distribution: $dist")
    val worst = results.sortBy(-_._2).take(8)
      .map(t => s"${t._1}=${t._2}").mkString(", ")
    println(s"[plan] === most exchanges: $worst")
  }
}
