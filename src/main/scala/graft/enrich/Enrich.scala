package graft.enrich

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ConcurrentLinkedQueue,
  ExecutionException, Executors, ThreadLocalRandom, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.annotation.tailrec
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** Input row for the enrichment operator. */
case class EnrichInput(
    movieId: Int,
    clean_title: String,
    release_year: Option[Int],
    imdb_id_lookup: Option[String])

/** Output of the 3-strategy enrichment ladder, with strategy
  * attribution (README.md:615-621 success-rate metrics) and an error
  * reason for the misses log (etl1.py:250-261). */
case class EnrichResult(
    movieId: Int,
    imdb_id: Option[String],
    director: Option[String],
    plot: Option[String],
    box_office: Option[String],
    imdb_rating: Option[String],
    runtime: Option[String],
    strategy: Option[String],
    error_reason: Option[String],
    imdb_id_lookup: Option[String])

/** S4-S6 + J1: the REST enrichment operator (SURVEY.md §2.1).
  *
  * Spark-first shape: the per-row point lookup against links
  * (etl1.py:75-90) becomes one broadcast left join. The cap is applied
  * after an explicit orderBy(movieId) — pandas `head(400)` relied on
  * file order, which Spark must never do (SURVEY.md §7.4 determinism
  * policy).
  *
  * Rate limiting: the capped candidates are coalesced to one Spark
  * task, so the provider quota is enforced in one place. Inside that
  * task each row's [[ladder]] runs on a fixed pool of [[MaxInFlight]]
  * daemon threads (`graft-enrich-*`), so calls overlap their latency
  * instead of adding it up. Every call first passes one shared gate
  * ([[GatedClient]]): `delayMs` is the minimum spacing between call
  * starts across all threads, and a call that throws pushes the gate
  * forward by an exponential back-off with jitter, so every thread
  * backs off together. A failed call is retried up to [[MaxAttempts]]
  * times; when the retries run out the row is recorded as
  * `transient:<code or exception class>`, never `not_found`. Repeated
  * lookup keys within the task share one call.
  */
object Enrich {

  /** Most ladders (so most provider calls) in flight at once. Kept
    * small: past the provider's quota more threads buy only refusals
    * and back-offs (8 against a 200 calls/s quota at 20 ms per call
    * drew about 110 refusals per 400 rows; 4 drew none). */
  val MaxInFlight = 4
  /** Tries per provider call, the first included. */
  val MaxAttempts = 5
  /** Back-off after a call's first failure; doubles per further failure. */
  val BackoffBaseMs = 20L

  def enrich(
      spark: SparkSession,
      transformedMovies: DataFrame,
      links: DataFrame,
      client: EnrichmentClient,
      cap: Int = 400,
      delayMs: Long = 0L,
      // the reference sleeps 0.1 s between ladder rungs (etl1.py:212,233)
      interRetryDelayMs: Long = 0L): DataFrame = {
    import spark.implicits._

    // J1: imdbId fallback via broadcast left join (materializes the
    // lookup once instead of N per-row probes).
    val linkIds = links.select(
      col("movieId"),
      TextFunctions.formatImdbId(col("imdbId")).as("imdb_id_lookup"))

    // S6: deterministic cap — orderBy before limit.
    val candidates = transformedMovies
      .orderBy(col("movieId"))
      .limit(cap)
      .join(broadcast(linkIds), Seq("movieId"), "left")
      .select(
        col("movieId"), col("clean_title"), col("release_year"),
        col("imdb_id_lookup"))
      .as[EnrichInput]

    val enriched: Dataset[EnrichResult] =
      candidates.coalesce(1).mapPartitions { rows =>
        val gated = new GatedClient(client, delayMs)
        // at most `cap` rows reach this task, so they are held in memory
        val threads = new ConcurrentLinkedQueue[Thread]()
        val pool = Executors.newFixedThreadPool(MaxInFlight, (r: Runnable) => {
          val t = new Thread(r, s"graft-enrich-${threads.size}")
          t.setDaemon(true)
          threads.add(t)
          t
        })
        try {
          rows.map(in => pool.submit[EnrichResult](() => ladder(in, gated, interRetryDelayMs)))
            .toVector.map(_.get()).iterator
        } finally { // joined, so no enrichment thread outlives the task
          pool.shutdownNow()
          threads.forEach(_.join())
        }
      }

    // Left-join enrichment results back onto the full movie set; numeric
    // coercion of imdbRating ("N/A" → null) via try-style guard (F5).
    val resultCols = enriched.toDF()
      .withColumn("imdb_rating",
        when(col("imdb_rating").rlike("^[0-9]+(\\.[0-9]+)?$"),
          col("imdb_rating").cast("double")))
      .withColumnRenamed("movieId", "e_movieId")

    transformedMovies.join(
      resultCols, col("movieId") === col("e_movieId"), "left")
      .drop("e_movieId")
  }

  /** One row's strategy ladder (etl1.py:176-244): title+year → title →
    * imdb id, with the reference's short pause between rungs. A client
    * exception ends the row as `transient:<code or exception class>`:
    * falling through to a later rung could record a different answer
    * than the provider's. */
  def ladder(in: EnrichInput, client: EnrichmentClient,
             interRetryDelayMs: Long = 0L): EnrichResult = {
    def pause(): Unit = if (interRetryDelayMs > 0) Thread.sleep(interRetryDelayMs)
    def miss(reason: String) = EnrichResult(in.movieId,
      None, None, None, None, None, None, None, Some(reason), in.imdb_id_lookup)
    try {
      val s1 = in.release_year.flatMap(y => client.byTitleYear(in.clean_title, y))
        .map(r => (r, "title_year"))
      val s2 = s1.orElse { pause()
        client.byTitle(in.clean_title).map(r => (r, "title_only")) }
      val s3 = s2.orElse { pause()
        in.imdb_id_lookup.flatMap(client.byImdbId).map(r => (r, "imdb_id")) }
      s3 match {
        case Some((r, strat)) => EnrichResult(in.movieId,
          r.imdbId, r.director, r.plot, r.boxOffice, r.imdbRating, r.runtime,
          Some(strat), None, in.imdb_id_lookup)
        case None => miss("not_found")
      }
    } catch {
      case t: TransientEnrichmentError => miss(s"transient:${t.code}")
      case NonFatal(e) => miss(s"transient:${e.getClass.getSimpleName}")
    }
  }

  /** S7: the misses log — attempted-but-unenriched rows with the 10
    * diagnostic columns of etl1.py:250-261. */
  def missesLog(enrichedMovies: DataFrame): DataFrame =
    enrichedMovies
      .filter(col("strategy").isNull && col("error_reason").isNotNull)
      .select(
        col("movieId").as("movie_id"),
        col("title").as("original_title"),
        col("clean_title").as("normalized_title"),
        coalesce(col("release_year").cast("string"), lit("N/A")).as("release_year"),
        coalesce(col("genres"), lit("N/A")).as("genres"),
        TextFunctions.yesNo(col("imdb_id_lookup")).as("imdb_id_available"),
        coalesce(col("imdb_id_lookup"), lit("N/A")).as("imdb_id"),
        // only the rungs the ladder actually tried — concat_ws drops the
        // null entries. Pinned deviation: the reference labels the FIRST
        // request 'Title+Year' even when no year exists (it just omits
        // the y param, etl1.py:188-196), so its no-year misses log
        // 'Title+Year' and never 'Title Only' (that rung requires a
        // year, etl1.py:210). Here the labels follow what was actually
        // sent: a no-year first request is title_only.
        concat_ws(",",
          when(col("release_year").isNotNull, lit("title_year")),
          lit("title_only"),
          when(col("imdb_id_lookup").isNotNull, lit("imdb_id")))
          .as("strategies_attempted"),
        col("error_reason"),
        date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss").as("timestamp"))
}

/** The enrichment task's view of the provider, shared by its threads.
  *
  *  - One gate, a "not before" instant: a call reserves the first start
  *    at or after it and moves it on by `spacingMs`; a failed call
  *    pushes it to now + back-off, which holds back every thread.
  *  - A failed call is retried up to [[Enrich.MaxAttempts]] times, then
  *    its last exception is thrown.
  *  - A memo from lookup key to the first call's outcome, so a repeated
  *    key costs one call (or one run of retries) per task.
  */
private[enrich] final class GatedClient(underlying: EnrichmentClient, spacingMs: Long)
  extends EnrichmentClient {

  private val notBefore = new AtomicLong(System.nanoTime())
  private val memo = new ConcurrentHashMap[Any, CompletableFuture[Option[OmdbRecord]]]()

  @tailrec private def awaitTurn(): Unit = {
    val now = System.nanoTime()
    val gate = notBefore.get()
    val wait = math.max(0L, gate - now)
    if (!notBefore.compareAndSet(gate, now + wait + spacingMs * 1000000L)) awaitTurn()
    else if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
  }

  private def backOff(failures: Int): Unit = {
    val ms = Enrich.BackoffBaseMs << (failures - 1)
    val until = System.nanoTime() +
      (ms + ThreadLocalRandom.current().nextLong(ms + 1)) * 1000000L
    notBefore.accumulateAndGet(until, (a, b) => if (b - a > 0) b else a)
  }

  @tailrec private def withRetry(call: => Option[OmdbRecord], failures: Int = 0): Option[OmdbRecord] = {
    awaitTurn()
    Try(call) match {
      case Success(r) => r
      case Failure(e) =>
        backOff(failures + 1)
        if (failures + 1 >= Enrich.MaxAttempts) throw e
        withRetry(call, failures + 1)
    }
  }

  private def memoised(key: Any)(call: => Option[OmdbRecord]): Option[OmdbRecord] = {
    val mine = new CompletableFuture[Option[OmdbRecord]]()
    val first = memo.putIfAbsent(key, mine)
    if (first == null)
      try mine.complete(withRetry(call))
      catch { case e: Throwable => mine.completeExceptionally(e) }
    try (if (first == null) mine else first).get()
    catch { case e: ExecutionException => throw e.getCause }
  }

  override def byTitleYear(title: String, year: Int): Option[OmdbRecord] =
    memoised(("title_year", title, year))(underlying.byTitleYear(title, year))
  override def byTitle(title: String): Option[OmdbRecord] =
    memoised(("title", title))(underlying.byTitle(title))
  override def byImdbId(imdbId: String): Option[OmdbRecord] =
    memoised(("imdb_id", imdbId))(underlying.byImdbId(imdbId))
}
