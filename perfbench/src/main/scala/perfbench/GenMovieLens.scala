package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable

/** Deterministic MovieLens-shaped generator.
  *
  * At scale 1 it matches ml-latest-small: 9,742 movies, 100,836 clean
  * ratings from 610 users, one links row per movie. Every title hazard
  * of the curated-movie transform is present: no year, an en-dash year
  * range, trailing English and French articles, foreign-language
  * parentheses with and without an article, commas inside quoted
  * titles, a doubled quote, non-ASCII letters, the `(no genres listed)`
  * sentinel, multi-genre rows, empty imdb and tmdb ids, and malformed
  * ratings rows that cleaning must drop.
  *
  * Every title is built from parts, so its normalised form and year are
  * known here without running the engine's regexes. A share of titles
  * reuses an earlier movie's normalised title (remakes) and a few rows
  * repeat a title and year exactly; these are the repeated lookup keys
  * a key-deduplicating enrichment would save calls on.
  *
  * The truth written next to the files is derived from what was
  * written, never from the engine.
  */
object GenMovieLens {

  val Genres: IndexedSeq[String] = IndexedSeq(
    "Action", "Adventure", "Animation", "Children", "Comedy", "Crime",
    "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror", "IMAX",
    "Musical", "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western")
  val NoGenres = "(no genres listed)"
  // rough ml-latest-small genre frequencies (per 1000 movies)
  private val genreWeight = Array(190, 150, 62, 68, 390, 130, 45, 450, 80, 9,
    100, 16, 34, 58, 165, 100, 195, 39, 17).map(_.toDouble)

  private val words = IndexedSeq(
    "Night", "River", "Star", "Shadow", "Summer", "City", "Heart", "Road",
    "Ghost", "King", "Queen", "Winter", "Fire", "Stone", "Dream", "Wild",
    "Silent", "Golden", "Lost", "Last", "Secret", "Blue", "Red", "Dark",
    "Glass", "Iron", "Paper", "Moon", "Island", "Garden", "Storm", "House",
    "Hunter", "Angel", "Empire", "Journey", "Promise", "Station", "Harbor",
    "Forest", "Desert", "Mirror", "Thunder", "Echo", "Crown", "Valley",
    "Wolf", "Rain", "Orchid", "Captain", "Letter", "Bridge", "Circus",
    "Misérables", "Amélie", "Café", "Señor", "Über", "Zoë", "Noël")
  private val connectors = IndexedSeq("of", "and", "in", "for", "on", "at")
  private val foreign = IndexedSeq(
    "Cité des enfants perdus", "Yao a yao yao dao waipo qiao",
    "Das Leben der Anderen", "El laberinto del fauno", "Ladri di biciclette",
    "Sen to Chihiro no kamikakushi", "Le fabuleux destin", "Smultronstället")

  /** One generated movie and everything the truth needs about it. */
  case class Movie(
      id: Int,
      rawTitle: String,
      cleanTitle: String,
      year: Option[Int],
      genres: IndexedSeq[String],
      imdbDigits: Option[String],
      tmdb: Option[String]) {
    /** The links-derived lookup id, formatted `tt%07d`. */
    def imdbLookup: Option[String] = imdbDigits.map(d => f"tt${d.toLong}%07d")
  }

  /** Ground truth counts. `ratingsByValue` keys are ratings × 2. */
  case class Truth(
      movies: Long,
      genres: Long,
      movieGenres: Long,
      ratingsRaw: Long,
      ratingsClean: Long,
      nullYear: Long,
      ratingsByValue: Map[Int, Long],
      ratingsPerMovie: Map[Int, Long],
      ratingsPerUser: Map[Int, Long],
      inputBytes: Long)

  case class Dataset(dir: File, movies: IndexedSeq[Movie], truth: Truth) {
    /** Movies sorted by id; the enrichment ladder attempts the first `cap`. */
    def attempted(cap: Int): IndexedSeq[Movie] = movies.sortBy(_.id).take(cap)
    /** Share of attempted movies whose title-only key is also another
      * attempted movie's title-only key. */
    def repeatedKeyShare(cap: Int): Double = {
      val a = attempted(cap)
      val byTitle = a.groupBy(_.cleanTitle).filter(_._2.size > 1).values.map(_.size).sum
      byTitle.toDouble / a.size.max(1)
    }
  }

  def generate(dir: File, scale: Double, seed: Long): Dataset = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val nMovies = math.max(200, math.round(9742 * scale).toInt)
    val nRatings = math.max(2000, math.round(100836 * scale).toInt)
    val nUsers = math.max(40, math.round(610 * scale).toInt)

    def word(): String = words(rnd.nextInt(words.size))
    def phrase(min: Int, max: Int): String = {
      val n = min + rnd.nextInt(max - min + 1)
      val ws = (0 until n).map(_ => word())
      if (n >= 3 && rnd.nextInt(3) == 0)
        (ws.take(1) :+ connectors(rnd.nextInt(connectors.size))) ++ ws.drop(1) mkString " "
      else ws.mkString(" ")
    }
    def year(): Int = 1902 + rnd.nextInt(117)

    val movies = new mutable.ArrayBuffer[Movie](nMovies)
    var nextId = 1
    for (_ <- 0 until nMovies) {
      val id = nextId
      nextId += 1 + (if (rnd.nextInt(4) == 0) rnd.nextInt(20) else 0)
      val y = year()
      val r = rnd.nextInt(1000)
      val base = phrase(2, 4)
      // (raw title, normalised title, extracted year)
      val (raw, clean, yr): (String, String, Option[Int]) =
        if (r < 6) (base, base, None)                                         // no year
        else if (r < 9) (s"$base ($y–${y + 1 + rnd.nextInt(5)})", base, None) // year range
        else if (r < 60) {                                                    // trailing English article
          val a = Seq("The", "A", "An")(rnd.nextInt(3))
          (s"$base, $a ($y)", s"$a $base", Some(y))
        } else if (r < 72) {                                                  // French article
          val a = Seq("Le", "La", "Les")(rnd.nextInt(3))
          (s"$base, $a ($y)", s"$a $base", Some(y))
        } else if (r < 82)                                                    // article + foreign parens
          (s"$base, The (${foreign(rnd.nextInt(foreign.size))}, La) ($y)", s"The $base", Some(y))
        else if (r < 112)                                                     // foreign parens only
          (s"$base (${foreign(rnd.nextInt(foreign.size))}) ($y)", base, Some(y))
        else if (r < 132) {                                                   // quoted commas mid-title
          val t = s"$base, ${phrase(1, 2)}"
          if (rnd.nextBoolean()) (s"$t, The ($y)", s"The $t", Some(y))
          else (s"$t ($y)", t, Some(y))
        } else if (r < 134) {                                                 // doubled quote
          val t = s"""$base "${word()}" ${word()}"""
          (s"$t ($y)", t, Some(y))
        } else if (r < 164 && movies.nonEmpty) {                              // remake: repeated title key
          val prev = movies(rnd.nextInt(movies.size))
          if (rnd.nextInt(10) == 0 && prev.year.isDefined)                    // exact duplicate key
            (prev.rawTitle, prev.cleanTitle, prev.year)
          else {
            val stem = prev.rawTitle.replaceAll("\\s*\\([^)]*\\)\\s*$", "")
            if (prev.year.isEmpty || stem == prev.rawTitle) (s"${prev.cleanTitle} ($y)", prev.cleanTitle, Some(y))
            else (s"$stem ($y)", prev.cleanTitle, Some(y))
          }
        } else (s"$base ($y)", base, Some(y))
      val gs: IndexedSeq[String] =
        if (rnd.nextInt(1000) < 4) IndexedSeq(NoGenres)
        else {
          val k = 1 + math.min(5, (-math.log(1 - rnd.nextDouble()) * 1.8).toInt)
          val picked = mutable.LinkedHashSet.empty[String]
          val total = genreWeight.sum
          while (picked.size < k) {
            var u = rnd.nextDouble() * total
            var i = 0
            while (u >= genreWeight(i) && i < genreWeight.length - 1) { u -= genreWeight(i); i += 1 }
            picked += Genres(i)
          }
          picked.toIndexedSeq
        }
      val imdb =
        if (rnd.nextInt(1000) < 5) None
        else if (rnd.nextInt(100) == 0) Some((10000000 + rnd.nextInt(9000000)).toString)
        else Some(f"${rnd.nextInt(9999999) + 1}%07d")
      val tmdb = if (rnd.nextInt(1000) < 2) None else Some((1 + rnd.nextInt(500000)).toString)
      movies += Movie(id, raw, clean, yr, gs, imdb, tmdb)
    }

    def csvField(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    def writer(name: String) = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(dir, name)), StandardCharsets.UTF_8), 1 << 20)

    val mw = writer("movies.csv")
    mw.write("movieId,title,genres\n")
    movies.foreach(m => mw.write(s"${m.id},${csvField(m.rawTitle)},${csvField(m.genres.mkString("|"))}\n"))
    mw.close()
    val lw = writer("links.csv")
    lw.write("movieId,imdbId,tmdbId\n")
    movies.foreach(m => lw.write(s"${m.id},${m.imdbDigits.getOrElse("")},${m.tmdb.getOrElse("")}\n"))
    lw.close()

    // Ratings: a skewed popularity over movies and users, ml-small's
    // half-star value mix, a few empty timestamps (kept) and a few
    // malformed rows (dropped by cleaning).
    val valueWeights = Array(14, 28, 18, 76, 44, 201, 131, 266, 89, 132) // 0.5 .. 5.0
    val vTotal = valueWeights.sum
    val byValue = new Array[Long](11)
    val perMovie = new Array[Long](movies.size)
    val perUser = new Array[Long](nUsers + 1)
    val sb = new java.lang.StringBuilder(64)
    val rw = writer("ratings.csv")
    rw.write("userId,movieId,rating,timestamp\n")
    val nMalformed = math.max(3, math.round(12 * scale).toInt)
    val malformedAt = (0 until nMalformed).map(_ => rnd.nextInt(nRatings)).toSet
    var malformed = 0L
    for (i <- 0 until nRatings) {
      val u = 1 + (nUsers * math.pow(rnd.nextDouble(), 2.2)).toInt.min(nUsers - 1)
      val mi = (movies.size * math.pow(rnd.nextDouble(), 2.6)).toInt.min(movies.size - 1)
      var v = rnd.nextInt(vTotal)
      var k = 0
      while (v >= valueWeights(k)) { v -= valueWeights(k); k += 1 }
      val ts = if (rnd.nextInt(5000) == 0) "" else (828124615L + rnd.nextLong(709674635L)).toString
      sb.setLength(0)
      sb.append(u).append(',').append(movies(mi).id).append(',')
        .append((k + 1) / 2).append('.').append(if ((k + 1) % 2 == 1) '5' else '0')
        .append(',').append(ts).append('\n')
      rw.write(sb.toString)
      byValue(k + 1) += 1
      perMovie(mi) += 1
      perUser(u) += 1
      if (malformedAt.contains(i)) {
        malformed += 1
        rw.write((malformed % 3) match {
          case 0 => s"$u,${movies(mi).id},abc,$ts\n"
          case 1 => s"$u,x${movies(mi).id},4.0,$ts\n"
          case _ => s",${movies(mi).id},3.5,$ts\n"
        })
      }
    }
    rw.close()

    val usedGenres = movies.flatMap(_.genres).toSet
    val bytes = Seq("movies.csv", "ratings.csv", "links.csv").map(n => new File(dir, n).length).sum
    val truth = Truth(
      movies = movies.size,
      genres = usedGenres.size,
      movieGenres = movies.map(_.genres.size.toLong).sum,
      ratingsRaw = nRatings + malformed,
      ratingsClean = nRatings,
      nullYear = movies.count(_.year.isEmpty),
      ratingsByValue = (1 to 10).map(k => k -> byValue(k)).filter(_._2 > 0).toMap,
      ratingsPerMovie = movies.indices.filter(perMovie(_) > 0).map(i => movies(i).id -> perMovie(i)).toMap,
      ratingsPerUser = (1 to nUsers).filter(perUser(_) > 0).map(u => u -> perUser(u)).toMap,
      inputBytes = bytes)
    Dataset(dir, movies.toIndexedSeq, truth)
  }
}
