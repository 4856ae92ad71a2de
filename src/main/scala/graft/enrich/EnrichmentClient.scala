package graft.enrich

/** One enrichment record, shaped like the reference's 6-field OMDb
  * projection (etl1.py:160-167). `imdbRating` stays a raw string here
  * ("N/A" happens — README.md:583); numeric coercion is a transform
  * concern. */
case class OmdbRecord(
    imdbId: Option[String],
    director: Option[String],
    plot: Option[String],
    boxOffice: Option[String],
    imdbRating: Option[String],
    runtime: Option[String])

/** A provider error worth retrying: HTTP 429 (over quota) or a 5xx. */
final class TransientEnrichmentError(val code: Int)
  extends RuntimeException(s"transient enrichment error: HTTP $code")

/** S4/S5: the external REST point-lookup source behind an interface so
  * the operator is testable offline (FIXTURES.md §E) and swappable for
  * any enrichment backend. Implementations must be Serializable (the
  * instance is shipped to the enrichment task) and thread-safe: the
  * task calls one instance from several threads at once. `None` means
  * the provider has no such movie; a thrown exception means the call
  * failed and is retried (see [[Enrich]]).
  */
trait EnrichmentClient extends Serializable {
  /** Strategy 1 (etl1.py:192-207): search by title + year. */
  def byTitleYear(title: String, year: Int): Option[OmdbRecord]
  /** Strategy 2 (etl1.py:209-226): search by title only. */
  def byTitle(title: String): Option[OmdbRecord]
  /** Strategy 3 (etl1.py:228-237): direct IMDb-id lookup. */
  def byImdbId(imdbId: String): Option[OmdbRecord]
}

/** Deterministic offline stub (FIXTURES.md §E): keyed maps, no I/O.
  * Exercises every rung of the ladder depending on which map hits. */
class StubEnrichmentClient(
    val byTitleYearMap: Map[(String, Int), OmdbRecord] = Map.empty,
    val byTitleMap: Map[String, OmdbRecord] = Map.empty,
    val byIdMap: Map[String, OmdbRecord] = Map.empty)
  extends EnrichmentClient {
  override def byTitleYear(title: String, year: Int): Option[OmdbRecord] =
    byTitleYearMap.get((title, year))
  override def byTitle(title: String): Option[OmdbRecord] =
    byTitleMap.get(title)
  override def byImdbId(imdbId: String): Option[OmdbRecord] =
    byIdMap.get(imdbId)
}

/** F9: the 6-field OMDb JSON projection (etl1.py:160-167), separated
  * from transport so the parse semantics — `Response:"False"` rejection
  * and missing-field tolerance — are testable offline. */
object OmdbJson {
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(body: String): Option[OmdbRecord] = {
    val node = mapper.readTree(body)
    if (node.path("Response").asText() != "True") return None
    def f(name: String): Option[String] = {
      val v = node.path(name)
      if (v.isMissingNode || v.isNull) None else Option(v.asText())
    }
    Some(OmdbRecord(f("imdbID"), f("Director"), f("Plot"),
      f("BoxOffice"), f("imdbRating"), f("Runtime")))
  }
}

/** Real OMDb HTTP client (S4/S5 params per etl1.py:147-151,186-190;
  * 10 s timeout etl1.py:153). Uses JDK HttpClient + the Jackson already
  * on Spark's classpath. A 429 or 5xx throws [[TransientEnrichmentError]]
  * so the call is retried; any other non-200 and a `Response:"False"`
  * body are a miss. Tested against a local HTTP server through
  * `baseUrl`.
  */
class OmdbHttpClient(apiKey: String,
                     baseUrl: String = "https://www.omdbapi.com/")
  extends EnrichmentClient {

  @transient private lazy val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private def get(params: Map[String, String]): Option[OmdbRecord] = {
    val qs = (params + ("apikey" -> apiKey))
      .map { case (k, v) => k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }
      .mkString("&")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$baseUrl?$qs"))
      .timeout(java.time.Duration.ofSeconds(10)).GET().build()
    val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    val code = resp.statusCode()
    if (code == 429 || code >= 500) throw new TransientEnrichmentError(code)
    if (code != 200) return None
    OmdbJson.parse(resp.body())
  }

  override def byTitleYear(title: String, year: Int): Option[OmdbRecord] =
    get(Map("t" -> title, "y" -> year.toString, "type" -> "movie"))
  override def byTitle(title: String): Option[OmdbRecord] =
    get(Map("t" -> title, "type" -> "movie"))
  override def byImdbId(imdbId: String): Option[OmdbRecord] =
    get(Map("i" -> imdbId, "type" -> "movie"))
}
