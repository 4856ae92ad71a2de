package graft

import graft.enrich.{Enrich, EnrichInput, EnrichResult, EnrichmentClient, OmdbHttpClient, OmdbJson,
  OmdbRecord, TransientEnrichmentError}
import graft.etl.{Extract, Transform}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge coverage for the enrichment source (FIXTURES.md §D/§E) and the
  * coercion parity of the CSV extract. */
class EnrichEdgeSpec extends AnyFunSuite with SparkTestSession {

  test("OMDb JSON projection: found, Response=False, missing fields, N/A") {
    val found = OmdbJson.parse(
      """{"Response":"True","imdbID":"tt0114709","Director":"John Lasseter",
        |"Plot":"p","BoxOffice":"$373,554,033","imdbRating":"8.3","Runtime":"81 min"}""".stripMargin)
    assert(found === Some(OmdbRecord(Some("tt0114709"), Some("John Lasseter"),
      Some("p"), Some("$373,554,033"), Some("8.3"), Some("81 min"))))
    assert(OmdbJson.parse("""{"Response":"False","Error":"Movie not found!"}""") === None)
    val partial = OmdbJson.parse(
      """{"Response":"True","imdbID":"tt1","imdbRating":"N/A"}""").get
    assert(partial.director === None)
    assert(partial.imdbRating === Some("N/A")) // raw; nullifNA is a transform concern
  }

  test("F5 coercion parity: malformed ratings rows null out and are dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_edge")
    val csv = dir.resolve("ratings.csv")
    java.nio.file.Files.writeString(csv,
      """userId,movieId,rating,timestamp
        |1,10,4.5,828124615
        |notanum,11,3.0,828124616
        |2,notanum,2.0,828124617
        |3,12,bad,828124618
        |4,13,5.0,
        |""".stripMargin)
    val raw = Extract.ratings(spark, csv.toString)
    assert(raw.count() === 5L)
    val clean = Transform.cleanRatings(raw)
    // rows 2-4 have a null in a required column; row 5's empty timestamp
    // is allowed (nullable, etl1.py drops only movieId/userId/rating)
    assert(clean.count() === 2L)
    val ts = clean.filter(col("movie_id") === 13).head()
    assert(ts.isNullAt(ts.fieldIndex("timestamp")))
  }

  private def movieFrame(rows: Seq[(Int, String)]) = {
    import spark.implicits._
    Transform.transformMovies(
      rows.map { case (i, t) => (i, t, "Drama") }.toDF("movieId", "title", "genres"))
  }
  private def linkFrame(rows: Seq[(Int, Int)]) = {
    import spark.implicits._
    rows.toDF("movieId", "imdbId").selectExpr("movieId", "cast(imdbId as string) imdbId")
  }

  /** 240 movies over 200 titles (remakes share a title), a quarter
    * without a year, two thirds with a link: every rung, misses and
    * repeated keys. */
  private val ladderMovies = (1 to 240).map { i =>
    val t = s"Film ${i % 200}"
    i -> (if (i % 4 == 0) t else s"$t (${1950 + i % 60})")
  }
  private val ladderLinks = (1 to 240).filter(_ % 3 != 0).map(i => i -> (100000 + i))

  /** [[Enrich.ladder]] applied serially, row by row, in movie id order. */
  private def serialLadder(client: EnrichmentClient): Seq[EnrichResult] = {
    val linkOf = ladderLinks.toMap
    movieFrame(ladderMovies).select("movieId", "clean_title", "release_year")
      .orderBy("movieId").collect().toSeq
      .map(r => Enrich.ladder(EnrichInput(r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), linkOf.get(r.getInt(0)).map(n => f"tt$n%07d")),
        client))
  }

  test("concurrent enrichment equals the serial ladder; peak in-flight is bounded") {
    val movies = movieFrame(ladderMovies)
    val links = linkFrame(ladderLinks)
    val stub = new LatencyStub(latencyMs = 3)
    val serial = serialLadder(stub)
    LatencyStub.reset()
    val got = Enrich.enrich(spark, movies, links, stub, cap = 240)
      .select("movieId", "imdb_id", "director", "plot", "box_office", "imdb_rating",
        "runtime", "strategy", "error_reason", "imdb_id_lookup")
      .orderBy("movieId").collect().toSeq
      .map(r => (0 until r.length).map(i => Option(r.get(i))))
    val expected = serial.map(e => Seq(Some(e.movieId), e.imdb_id, e.director, e.plot,
      e.box_office, e.imdb_rating.filter(_.matches("[0-9.]+")).map(_.toDouble), e.runtime,
      e.strategy, e.error_reason, e.imdb_id_lookup))
    assert(got === expected)
    assert(serial.flatMap(_.strategy).toSet === Set("title_year", "title_only", "imdb_id"))
    assert(serial.count(_.error_reason.contains("not_found")) > 0)
    assert(LatencyStub.peakInFlight.get() > 1)
    assert(LatencyStub.peakInFlight.get() <= Enrich.MaxInFlight)
  }

  test("quota 429s and first-call 503s are retried: no ideal hit is lost") {
    val movies = movieFrame(ladderMovies)
    val links = linkFrame(ladderLinks)
    // offered rate: 4 in flight / 2 ms = 2,000 calls/s, 5x the quota
    val stub = new QuotaStub(latencyMs = 2, quotaPerSec = 400)
    QuotaStub.reset()
    val got = Enrich.enrich(spark, movies, links, stub, cap = 240)
      .select("movieId", "strategy", "error_reason").collect()
      .map(r => r.getInt(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    serialLadder(new LatencyStub(latencyMs = 0)).foreach { want =>
      assert(got(want.movieId) === (want.strategy, want.error_reason), s"movie ${want.movieId}")
    }
    assert(QuotaStub.refused.get() > 0, "the quota never bit")
    assert(QuotaStub.failedFirstCalls.get() > 0, "no first-call 503 was injected")
    assert(!got.values.exists(_._2.exists(_.startsWith("transient"))))
  }

  test("a client that always throws yields transient: reasons, never not_found") {
    val movies = movieFrame((1 to 12).map(i => i -> s"Down $i (2001)"))
    val reasons = Enrich.enrich(spark, movies, linkFrame(Nil), new FailingStub, cap = 12)
      .select("strategy", "error_reason").collect()
      .map(r => (Option(r.getString(0)), r.getString(1)))
    assert(reasons.length === 12)
    assert(reasons.forall { case (s, reason) =>
      s.isEmpty && reason === "transient:IllegalStateException" })
  }

  test("OMDb HTTP client: 503 retried, 429 ends transient:429, False is not_found") {
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val title = java.net.URLDecoder.decode(
        ex.getRequestURI.getRawQuery.split("&").find(_.startsWith("t=")).get.drop(2), "UTF-8")
      val n = hits.merge(title, 1, (a: Integer, b: Integer) => a + b)
      val (code, body) = title match {
        case "Flaky" if n == 1 => (503, "")
        case "Flaky" => (200, """{"Response":"True","imdbID":"tt0000001","imdbRating":"6.5"}""")
        case "Busy" => (429, "")
        case _ => (200, """{"Response":"False","Error":"Movie not found!"}""")
      }
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val client = new OmdbHttpClient("key",
        s"http://127.0.0.1:${server.getAddress.getPort}/")
      val movies = movieFrame(Seq(1 -> "Flaky", 2 -> "Busy", 3 -> "Nothing"))
      // cached: the misses log below must not send the requests again
      val enriched = Enrich.enrich(spark, movies, linkFrame(Nil), client, cap = 3).cache()
      val strategy = enriched.select("movieId", "strategy", "imdb_id").collect()
        .map(r => r.getInt(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
      assert(strategy(1) === (Some("title_only"), Some("tt0000001")))
      val misses = Enrich.missesLog(enriched).select("movie_id", "error_reason").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(misses === Map(2 -> "transient:429", 3 -> "not_found"))
      assert(hits.get("Flaky") === 2)
      assert(hits.get("Busy") === Enrich.MaxAttempts)
      assert(hits.get("Nothing") === 1)
      enriched.unpersist()
    } finally server.stop(0)
  }
}

/** Thread-safe deterministic stub with per-call latency. Answers are a
  * function of the key: title+year hits for titles whose number is
  * 0 mod 3, title-only for 1 mod 3, imdb id for even ids; some ratings
  * are "N/A". Counters are JVM-static, because the task works on a
  * deserialized copy. */
class LatencyStub(latencyMs: Long) extends EnrichmentClient {
  private def num(s: String) = s.filter(_.isDigit).takeRight(3).toIntOption.getOrElse(0)
  private def rec(key: String) = OmdbRecord(Some(s"tt-$key"), Some(s"dir $key"), None,
    None, Some(if (key.length % 5 == 0) "N/A" else s"${key.length % 9}.5"), Some("90 min"))
  protected def call(key: String, hit: Boolean): Option[OmdbRecord] = {
    val n = LatencyStub.inFlight.incrementAndGet()
    LatencyStub.peakInFlight.accumulateAndGet(n, math.max)
    try {
      if (latencyMs > 0) Thread.sleep(latencyMs)
      if (hit) Some(rec(key)) else None
    } finally LatencyStub.inFlight.decrementAndGet()
  }
  override def byTitleYear(title: String, year: Int): Option[OmdbRecord] =
    call(s"$title|$year", num(title) % 3 == 0)
  override def byTitle(title: String): Option[OmdbRecord] =
    call(title, num(title) % 3 == 1)
  override def byImdbId(imdbId: String): Option[OmdbRecord] =
    call(imdbId, num(imdbId) % 2 == 0)
}
object LatencyStub {
  val inFlight = new java.util.concurrent.atomic.AtomicInteger
  val peakInFlight = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { inFlight.set(0); peakInFlight.set(0) }
}

/** [[LatencyStub]]'s answers behind a token-bucket quota (burst one
  * tenth of a second) that throws a 429 over the rate, and a 503 on the
  * first call of about 2 % of keys. */
class QuotaStub(latencyMs: Long, quotaPerSec: Int) extends LatencyStub(latencyMs) {
  override protected def call(key: String, hit: Boolean): Option[OmdbRecord] = {
    if (!QuotaStub.admit(quotaPerSec)) {
      QuotaStub.refused.incrementAndGet()
      throw new TransientEnrichmentError(429)
    }
    if (math.floorMod(key.hashCode, 50) == 0 && QuotaStub.seen.add(key)) {
      QuotaStub.failedFirstCalls.incrementAndGet()
      throw new TransientEnrichmentError(503)
    }
    super.call(key, hit)
  }
}
object QuotaStub {
  val refused = new java.util.concurrent.atomic.AtomicInteger
  val failedFirstCalls = new java.util.concurrent.atomic.AtomicInteger
  val seen: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet()
  private var tokens = -1.0
  private var last = 0L
  def reset(): Unit = synchronized {
    refused.set(0); failedFirstCalls.set(0); seen.clear(); tokens = -1.0
  }
  def admit(quota: Int): Boolean = synchronized {
    val now = System.nanoTime()
    val burst = quota / 10.0
    if (tokens < 0) { tokens = burst; last = now }
    tokens = math.min(burst, tokens + (now - last) / 1e9 * quota)
    last = now
    if (tokens >= 1.0) { tokens -= 1.0; true } else false
  }
}

class FailingStub extends EnrichmentClient {
  private def fail() = throw new IllegalStateException("provider down")
  override def byTitleYear(title: String, year: Int): Option[OmdbRecord] = fail()
  override def byTitle(title: String): Option[OmdbRecord] = fail()
  override def byImdbId(imdbId: String): Option[OmdbRecord] = fail()
}
