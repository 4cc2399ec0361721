package graft

import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** The [[Tables.t]] read memo is per session: sessions from `newSession()`
  * share one SparkContext but each plans under its own SQL conf.
  */
class TablesMemoSpec extends SparkSpec {

  test("read memo never serves one session's frame to another") {
    def session(broadcastBytes: String) = {
      val s = Tables.tune(spark.newSession())
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBytes)
      s
    }
    val small = session("-1")
    val big = session("104857600")
    // read in `big` first: with an application-keyed memo, `small` would
    // then get big's frames and plan under big's conf
    val mine = Tables.t(big, sfDir, "orders")
    val theirs = Tables.t(small, sfDir, "orders")
    assert(mine.sparkSession eq big)
    assert(theirs.sparkSession eq small)
    // still a memo within each session
    assert(Tables.t(big, sfDir, "orders") eq mine)
    assert(Tables.t(small, sfDir, "orders") eq theirs)

    def joinNodes(s: org.apache.spark.sql.SparkSession) = {
      val o = Tables.t(s, sfDir, "orders")
      val c = Tables.t(s, sfDir, "customer")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
      j.count()
      allPlanNodes(j.queryExecution.executedPlan)
    }
    assert(joinNodes(big).exists(_.isInstanceOf[BroadcastHashJoinExec]))
    val smallPlan = joinNodes(small)
    assert(!smallPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(smallPlan.exists(_.isInstanceOf[SortMergeJoinExec]))
  }
}
