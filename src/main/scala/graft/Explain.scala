package graft

import graft.queries.Registry

/** Plan-audit helper: prints the formatted physical plan for the given
  * queries (all if none named) — used to keep pushdown, pruning,
  * broadcast choices, and TakeOrderedAndProject visible while tuning. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder(Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Registry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      Registry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
