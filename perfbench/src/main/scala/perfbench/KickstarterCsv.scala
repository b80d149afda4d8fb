package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

/** Seeded generator for the `star_etl` input: a raw Kickstarter CSV with
  * the reference run's exact shape (15 columns, 378,661 rows).
  *
  * Every seed reproduces the golden log's distributions exactly:
  *   - state counts 197,719 / 133,956 / 38,779 / 3,562 / 2,799 / 1,846;
  *   - 4 null names, all on non-successful rows, so the transformed table
  *     keeps 378,657 rows split 244,701 / 133,956 by success flag;
  *   - 170 (main, sub) category pairs and 3,169 distinct launch dates, each
  *     carried by far more than 4 rows, so dropping the null-name rows
  *     cannot remove a dimension member.
  * What the seed changes is which row carries which value, the names, and
  * the numeric columns. Names embed commas and doubled quotes, so the
  * quote/escape path of the CSV reader is exercised on every run.
  */
object KickstarterCsv {
  val Rows = 378661
  val States: Seq[(String, Int)] = Seq(
    "failed" -> 197719, "successful" -> 133956, "canceled" -> 38779,
    "undefined" -> 3562, "live" -> 2799, "suspended" -> 1846)
  val NullNames = 4
  val LaunchDays = 3169
  val FirstLaunch: LocalDate = LocalDate.of(2009, 4, 21)

  val MainCategories: IndexedSeq[String] = IndexedSeq(
    "Art", "Comics", "Crafts", "Dance", "Design", "Fashion", "Film & Video",
    "Food", "Games", "Journalism", "Music", "Photography", "Publishing",
    "Technology", "Theater")
  private val SubVocab = IndexedSeq(
    "Ceramics", "Comedy", "Documentary", "Drama", "Electronic", "Fiction",
    "Hardware", "Illustration", "Indie", "Jazz", "Letterpress", "Mobile",
    "Nonfiction", "Painting", "Playing Cards", "Poetry", "Puzzles",
    "Restaurants", "Sculpture", "Software", "Tabletop", "Webseries")
  /** 170 distinct pairs: the first five main categories carry 12 subs,
    * the other ten carry 11. Sub names repeat across main categories, as
    * they do in the real data.
    */
  val CategoryPairs: IndexedSeq[(String, String)] =
    MainCategories.indices.flatMap { m =>
      val subs = if (m < 5) 12 else 11
      (0 until subs).map(k => MainCategories(m) -> SubVocab((m * 3 + k) % SubVocab.size))
    }
  require(CategoryPairs.distinct.size == 170)

  private val Words = IndexedSeq(
    "The", "Project", "Album", "Film", "Book", "Game", "Journey", "Kitchen",
    "Studio", "Tour", "Record", "Story", "City", "Garden", "Light", "Robot",
    "Summer", "Winter", "Open", "Little", "Great", "New", "Wild", "Lost")
  private val Currencies = IndexedSeq("USD", "USD", "USD", "GBP", "EUR", "CAD", "AUD")
  private val Countries = IndexedSeq("US", "US", "US", "GB", "DE", "CA", "AU")

  /** One raw row; `name` is None on the null-name rows. */
  final case class Row(
      id: Long, name: Option[String], category: String, mainCategory: String,
      currency: String, deadline: String, goal: Double, launched: String,
      pledged: Double, state: String, backers: Long, country: String,
      usdPledged: Option[Double], usdPledgedReal: Double, usdGoalReal: Double)

  private def shuffle(a: Array[Int], rnd: java.util.SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Value columns drawn as shuffled exact-count arrays, so every
    * distribution is exact whatever the seed.
    */
  def rows(seed: Long): Iterator[Row] = {
    val rnd = new java.util.SplittableRandom(seed)
    val state = Array.ofDim[Int](Rows)
    var at = 0
    States.zipWithIndex.foreach { case ((_, n), s) =>
      java.util.Arrays.fill(state, at, at + n, s); at += n
    }
    shuffle(state, rnd)
    val pair = Array.tabulate(Rows)(_ % CategoryPairs.size)
    shuffle(pair, rnd)
    val day = Array.tabulate(Rows)(_ % LaunchDays)
    shuffle(day, rnd)
    val ids = Array.tabulate(Rows)(identity)
    shuffle(ids, rnd)
    val nullRows = scala.collection.mutable.Set.empty[Int]
    while (nullRows.size < NullNames) {
      val r = rnd.nextInt(Rows)
      if (States(state(r))._1 != "successful") nullRows += r
    }
    Iterator.range(0, Rows).map { i =>
      val launchDate = FirstLaunch.plusDays(day(i).toLong)
      val launched = s"$launchDate ${two(rnd.nextInt(24))}:${two(rnd.nextInt(60))}:${two(rnd.nextInt(60))}"
      val deadline = launchDate.plusDays(1L + rnd.nextInt(60)).toString
      val goal = (100 + rnd.nextInt(99900)).toDouble
      val pledged = rnd.nextInt(2000000) / 100.0
      val (main, sub) = CategoryPairs(pair(i))
      Row(
        id = 1000000000L + ids(i),
        name = if (nullRows(i)) None else Some(name(rnd)),
        category = sub, mainCategory = main,
        currency = Currencies(rnd.nextInt(Currencies.size)),
        deadline = deadline, goal = goal, launched = launched, pledged = pledged,
        state = States(state(i))._1,
        backers = rnd.nextInt(3000).toLong,
        country = Countries(rnd.nextInt(Countries.size)),
        usdPledged = if (rnd.nextInt(100) == 0) None else Some(pledged),
        usdPledgedReal = pledged, usdGoalReal = goal)
    }
  }

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString

  /** Two to five words; one name in eight carries a comma clause and one in
    * twelve a quoted word.
    */
  private def name(rnd: java.util.SplittableRandom): String = {
    val words = Seq.fill(2 + rnd.nextInt(4))(Words(rnd.nextInt(Words.size)))
    val base = words.mkString(" ")
    val withClause = if (rnd.nextInt(8) == 0) s"$base, ${Words(rnd.nextInt(Words.size))} edition" else base
    if (rnd.nextInt(12) == 0) s"""$withClause "${Words(rnd.nextInt(Words.size))}"""" else withClause
  }

  val Header: String =
    "ID,name,category,main_category,currency,deadline,goal,launched,pledged," +
      "state,backers,country,usd pledged,usd_pledged_real,usd_goal_real"

  /** RFC 4180 field: quoted when it holds a comma or quote, quotes doubled. */
  def field(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  def line(r: Row): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append(r.id).append(',')
      .append(r.name.map(field).getOrElse("")).append(',')
      .append(field(r.category)).append(',')
      .append(field(r.mainCategory)).append(',')
      .append(r.currency).append(',')
      .append(r.deadline).append(',')
      .append(r.goal).append(',')
      .append(r.launched).append(',')
      .append(r.pledged).append(',')
      .append(r.state).append(',')
      .append(r.backers).append(',')
      .append(r.country).append(',')
      .append(r.usdPledged.map(_.toString).getOrElse("")).append(',')
      .append(r.usdPledgedReal).append(',')
      .append(r.usdGoalReal)
    sb.toString
  }

  /** Writes the CSV for `seed` to `path`; returns its size in bytes. */
  def write(seed: Long, path: java.nio.file.Path): Long = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write(Header); out.write('\n')
      rows(seed).foreach { r => out.write(line(r)); out.write('\n') }
    } finally out.close()
    java.nio.file.Files.size(path)
  }
}
