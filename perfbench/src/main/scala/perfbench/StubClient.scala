package perfbench

import graft.enrich.{EnrichmentClient, OmdbRecord}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.util.hashing.MurmurHash3

/** A provider error that a correct client retries (HTTP 429 or 5xx). */
final class TransientProviderError(val code: Int)
  extends RuntimeException(s"transient provider error $code")

/** The stub's answers, a pure function of the request key and a salt
  * taken from the run's seed. The generator's truth uses the same rules,
  * so expected outcomes are known before the engine runs.
  *
  *  - title class `c` = hash(title) mod 100. Title + year hits when
  *    c < 70, title only when c < 90: the 70 / 20 % strategy mix.
  *  - an imdb-id lookup hits for 9 ids in 10, so the remaining 10 %
  *    split 9 / 1 % into imdb-id hits and misses.
  *  - 2 % of request keys are transient: their first call in a pass
  *    fails with a 503.
  */
object StubRules {
  private def h(s: String, salt: Long): Int = MurmurHash3.stringHash(s, (salt ^ (salt >>> 32)).toInt)
  def titleClass(title: String, salt: Long): Int = Math.floorMod(h(title, salt), 100)
  def hitsTitleYear(title: String, salt: Long): Boolean = titleClass(title, salt) < 70
  def hitsTitle(title: String, salt: Long): Boolean = titleClass(title, salt) < 90
  def hitsImdb(id: String, salt: Long): Boolean = Math.floorMod(h(id, salt + 1), 10) != 0
  def transient(key: String, salt: Long): Boolean = Math.floorMod(h(key, salt + 2), 50) == 0

  def keyTitleYear(title: String, year: Int): String = s"ty|$title|$year"
  def keyTitle(title: String): String = s"t|$title"
  def keyImdb(id: String): String = s"i|$id"

  /** The record returned for a hit. A few ratings are the literal
    * "N/A" the curated transform must turn into null. */
  def record(key: String, salt: Long): OmdbRecord = {
    val x = Math.floorMod(h(key, salt + 3), 1000000)
    val rating = if (x % 31 == 0) "N/A" else f"${1 + (x % 90) / 10.0}%.1f"
    OmdbRecord(
      imdbId = Some(f"tt${x % 9000000 + 100000}%07d"),
      director = Some(if (x % 53 == 0) "N/A" else s"Director ${x % 97}"),
      plot = Some(s"Plot of ${key.drop(2)}"),
      boxOffice = Some(s"$$${x % 900 + 1},000,000"),
      imdbRating = Some(rating),
      runtime = Some(s"${80 + x % 90} min"))
  }
}

/** Process-wide counters for the stub. Local mode runs every task in
  * this JVM, so the benchmark resets them before each pass and reads
  * them after it. */
object StubState {
  val calls = new AtomicLong
  val refused = new AtomicLong
  val transientErrors = new AtomicLong
  val busyNanos = new AtomicLong
  val inFlight = new AtomicInteger
  val maxInFlight = new AtomicInteger
  val seenKeys: ConcurrentHashMap[String, java.lang.Boolean] = new ConcurrentHashMap()
  /** Spans of individual calls, kept only while tracing:
    * (stage id, start ns, end ns). */
  val callSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
  @volatile var tracing = false

  // token bucket for the provider quota
  private var tokens = 0.0
  private var lastRefill = 0L

  def reset(): Unit = {
    Seq(calls, refused, transientErrors, busyNanos).foreach(_.set(0))
    inFlight.set(0); maxInFlight.set(0)
    seenKeys.clear(); callSpans.clear()
    synchronized { tokens = -1; lastRefill = 0L }
  }

  /** Take one token at `quota` per second, burst `quota / 10`. */
  def admit(quota: Int, now: Long): Boolean = synchronized {
    val burst = math.max(1.0, quota / 10.0)
    if (tokens < 0) { tokens = burst; lastRefill = now }
    tokens = math.min(burst, tokens + (now - lastRefill) / 1e9 * quota)
    lastRefill = now
    if (tokens >= 1.0) { tokens -= 1.0; true } else false
  }
}

/** The benchmark's enrichment provider: fixed latency per call, a
  * provider quota (0 = none) that refuses calls over the rate with a
  * 429, and a first-call 503 on the transient keys. */
class StubEnrichmentClient(salt: Long, latencyMs: Long, quotaPerSec: Int)
  extends EnrichmentClient {

  private def call(key: String, hit: => Boolean): Option[OmdbRecord] = {
    val t0 = System.nanoTime()
    val n = StubState.inFlight.incrementAndGet()
    StubState.maxInFlight.accumulateAndGet(n, (a, b) => math.max(a, b))
    StubState.calls.incrementAndGet()
    try {
      if (quotaPerSec > 0 && !StubState.admit(quotaPerSec, t0)) {
        StubState.refused.incrementAndGet()
        throw new TransientProviderError(429)
      }
      if (latencyMs > 0) Thread.sleep(latencyMs)
      val first = StubState.seenKeys.putIfAbsent(key, java.lang.Boolean.TRUE) == null
      if (first && StubRules.transient(key, salt)) {
        StubState.transientErrors.incrementAndGet()
        throw new TransientProviderError(503)
      }
      if (hit) Some(StubRules.record(key, salt)) else None
    } finally {
      val t1 = System.nanoTime()
      StubState.busyNanos.addAndGet(t1 - t0)
      StubState.inFlight.decrementAndGet()
      if (StubState.tracing) {
        val tc = org.apache.spark.TaskContext.get()
        StubState.callSpans.add((if (tc == null) -1 else tc.stageId(), t0, t1))
      }
    }
  }

  override def byTitleYear(title: String, year: Int): Option[OmdbRecord] =
    call(StubRules.keyTitleYear(title, year), StubRules.hitsTitleYear(title, salt))
  override def byTitle(title: String): Option[OmdbRecord] =
    call(StubRules.keyTitle(title), StubRules.hitsTitle(title, salt))
  override def byImdbId(imdbId: String): Option[OmdbRecord] =
    call(StubRules.keyImdb(imdbId), StubRules.hitsImdb(imdbId, salt))
}

/** Expected enrichment outcomes of the generated movies under
  * [[StubRules]]. */
object EnrichTruth {
  /** `ideal`: the strategy a client that retries transient errors
    * records, or None for a genuine miss. `touchesTransient`: the
    * ladder for this movie sends at least one transient key. */
  case class Outcome(movieId: Int, ideal: Option[String], touchesTransient: Boolean)

  def outcomes(movies: Seq[GenMovieLens.Movie], salt: Long): Seq[Outcome] =
    movies.map { m =>
      val keys = Seq.newBuilder[String]
      val ideal =
        if (m.year.exists { y => keys += StubRules.keyTitleYear(m.cleanTitle, y)
              StubRules.hitsTitleYear(m.cleanTitle, salt) }) Some("title_year")
        else if ({ keys += StubRules.keyTitle(m.cleanTitle)
              StubRules.hitsTitle(m.cleanTitle, salt) }) Some("title_only")
        else if (m.imdbLookup.exists { id => keys += StubRules.keyImdb(id)
              StubRules.hitsImdb(id, salt) }) Some("imdb_id")
        else None
      Outcome(m.id, ideal, keys.result().exists(StubRules.transient(_, salt)))
    }

  /** Successes of the serial ladder with no retry, where a transient
    * error ends the movie's ladder: movies are tried in id order and
    * only a key's first call in the pass fails. */
  def serialNoRetrySuccesses(movies: Seq[GenMovieLens.Movie], salt: Long): Int = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    def send(key: String): Boolean = seen.add(key) && StubRules.transient(key, salt)
    movies.sortBy(_.id).count { m =>
      val steps: Seq[(String, Boolean)] =
        m.year.map(y => StubRules.keyTitleYear(m.cleanTitle, y) -> StubRules.hitsTitleYear(m.cleanTitle, salt)).toSeq ++
          Seq(StubRules.keyTitle(m.cleanTitle) -> StubRules.hitsTitle(m.cleanTitle, salt)) ++
          m.imdbLookup.map(id => StubRules.keyImdb(id) -> StubRules.hitsImdb(id, salt)).toSeq
      // walk the ladder: stop at the first hit or the first transient failure
      steps.iterator.map { case (k, hit) => if (send(k)) Some(false) else if (hit) Some(true) else None }
        .collectFirst { case Some(ok) => ok }.getOrElse(false)
    }
  }
}
