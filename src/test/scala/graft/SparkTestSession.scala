package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the suite (guide: lazy val, not
  * per-test), built from the same configuration as Bench and Verify
  * plus a throwaway warehouse. */
trait SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder()
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}
