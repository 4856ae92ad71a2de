package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: Bench, Verify, Explain, GenScale
  * and the test suite all build through [[builder]], so the plan that
  * is verified, explained and benched is the same plan. A caller that
  * needs more (a temp warehouse, Hive support) adds it to the returned
  * builder.
  *
  *  - `local[cores]` with shuffle partitions = cores; cores come from
  *    `SPARK_GRAFT_CPUS`, else the available processors.
  *  - AQE starts every shuffle at an input-scaled partition count and
  *    coalesces to a 64 MB advisory target. The count assumes up to
  *    ~8× on-wire expansion of the compressed parquet input (shingle
  *    and pair explodes are the shuffle-heavy stages), clamped to
  *    [cores, 1024]: at sf0.1 it is cores, at sf10 the large sorts
  *    start at ~185 partitions.
  *  - Static broadcasts are off, so Catalyst never commits to a
  *    broadcast from a pre-execution size guess (d07 at sf3: the
  *    estimate shrank below the threshold, the real side was 10 GiB,
  *    and AQE cannot demote a static broadcast). AQE upgrades joins to
  *    broadcast at runtime from materialized sizes up to 8 MB instead.
  *    Explicit broadcast()/merge hints win over both.
  *  - The codegen cache holds 4096 classes: the default 100 is fewer
  *    than one pass over the query suite generates, so every pass
  *    would re-compile and re-JIT every class.
  *  - Periodic GC every 30 s: shuffle files and localCheckpoint blocks
  *    are released only when ContextCleaner sees their references
  *    collected, and the 30 min default let a long session fill local
  *    disk (sf30: 33 GiB of one query's dead shuffle files) or the
  *    heap (a 16-advance pair-index chain).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the available processors. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `inputDir` is the data the session will read; the size of its
    * files sets the initial shuffle partition count (none: cores). */
  def builder(inputDir: Option[String] = None): SparkSession.Builder = {
    val inputBytes = inputDir.fold(0L) { dir =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
    val initialParts = math.min(1024L, math.max(cores.toLong, inputBytes * 8 / (64L << 20)))
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initialParts)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "8m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
