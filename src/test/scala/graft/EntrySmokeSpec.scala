package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mirror of the driver's t1 smoke: entry() on sf0.001 returns rows. */
class EntrySmokeSpec extends AnyFunSuite with SparkTestSession {
  test("entry() produces rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(SparkEntry.queries.nonEmpty)
    // every oracle key corresponds to a registered query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the test session carries GraftSession's plan-relevant settings") {
    // the suite must plan what Bench and Verify plan: one configuration
    val cores = GraftSession.cores
    def conf(k: String) = spark.conf.get(k)
    assert(conf("spark.sql.autoBroadcastJoinThreshold") === "-1")
    assert(conf("spark.sql.adaptive.autoBroadcastJoinThreshold") === "8m")
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "64m")
    assert(conf("spark.sql.shuffle.partitions") === cores.toString)
    assert(spark.sparkContext.master === s"local[$cores]")
  }
}
