package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded lichess-shaped monthly dumps, plus the answers the EDA report
  * must give on them.
  *
  * Shape: tens of thousands of players drawn from a Zipf tail plus a few
  * hot bot accounts; Elo / rating-diff `?` markers; eval and clock
  * comments on a share of games; tournament and swiss events; titles.
  * The movetext is drawn move by move, so a month compresses by a
  * single-digit zstd ratio as real dumps do, not by the ~55x of a
  * repeated movetext. Games are written in time order, like lichess
  * dumps. The same seed gives byte-identical files.
  */
object Gen {

  final case class Config(months: Seq[(Int, Int)], gamesPerMonth: Int,
      tailPlayers: Int, hotBots: Int, hotShare: Double)

  /** What the 8 `Report.Datasets` CSVs must hold, as rows of strings. */
  final case class EdaAnswers(datasets: Map[String, Seq[Seq[String]]],
      distinctWhite: Long, distinctBlack: Long)

  final case class Dumps(months: Seq[(Int, Int)], files: Seq[File], gamesPerMonth: Map[String, Long],
      totalGames: Long, inputBytes: Long, rawBytes: Long, eda: EdaAnswers)

  private val Openings: Vector[(String, String)] = Vector(
    "C20" -> "King's Pawn Game", "B01" -> "Scandinavian Defense",
    "A00" -> "Van't Kruijs Opening", "C00" -> "French Defense: Knight Variation",
    "B20" -> "Sicilian Defense", "D00" -> "Queen's Pawn Game: Accelerated London System",
    "C50" -> "Italian Game", "A40" -> "Horwitz Defense", "B00" -> "Owen Defense",
    "C41" -> "Philidor Defense", "B10" -> "Caro-Kann Defense",
    "C44" -> "Scotch Game", "A45" -> "Indian Defense",
    "D02" -> "Queen's Pawn Game: London System", "C40" -> "Elephant Gambit",
    "B27" -> "Modern Defense: Pterodactyl Variation",
    "C42" -> "Russian Game: Stafford Gambit", "A04" -> "Zukertort Opening",
    "B06" -> "Modern Defense", "C02" -> "French Defense: Advance Variation",
    "D20" -> "Queen's Gambit Accepted", "D30" -> "Queen's Gambit Declined",
    "E60" -> "King's Indian Defense", "A10" -> "English Opening",
    "B30" -> "Sicilian Defense: Old Sicilian", "C60" -> "Ruy Lopez",
    "B90" -> "Sicilian Defense: Najdorf Variation, English Attack",
    "A80" -> "Dutch Defense", "B07" -> "Pirc Defense",
    "C30" -> "King's Gambit", "D10" -> "Slav Defense",
    "E20" -> "Nimzo-Indian Defense", "A43" -> "Benoni Defense: Old Benoni",
    "C23" -> "Bishop's Opening", "C25" -> "Vienna Game",
    "B12" -> "Caro-Kann Defense: Advance Variation",
    "C45" -> "Scotch Game: Scotch Gambit", "A02" -> "Bird Opening",
    "D06" -> "Queen's Gambit Refused: Marshall Defense",
    "C34" -> "King's Gambit Accepted, Fischer Defense")

  private val Events: Vector[String] = Vector(
    "Rated Bullet game", "Rated Blitz game", "Rated Rapid game",
    "Rated Classical game", "Rated Correspondence game")
  private val EventWeights = Array(0.30, 0.38, 0.18, 0.04, 0.02) // rest: arenas, swiss
  private val TimeControls = Vector("60+0", "180+0", "600+0", "1800+0", "-")
  private val Terminations = Vector("Normal", "Time forfeit", "Abandoned", "Rules infraction")
  private val TermCum = cumulative(Array(0.62, 0.36, 0.015, 0.005))
  private val Pieces = "   NNBBRQK"
  private val Titles = Vector("GM", "IM", "FM", "CM", "NM", "WGM", "LM")
  private val B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val Syllables = Vector("ka", "zu", "mi", "ro", "te", "vo", "an", "el",
    "is", "or", "un", "ba", "de", "fi", "go", "hu", "ja", "ke", "lo", "ny")

  private def cumulative(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def pick(cum: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(if (i >= 0) i else -i - 1, cum.length - 1)
  }

  private final case class Player(name: String, elo: Int, title: Option[String])

  private def players(rng: SplittableRandom, cfg: Config): (Vector[Player], Array[Double]) = {
    val bots = (0 until cfg.hotBots).map(i =>
      Player(s"${Syllables(rng.nextInt(Syllables.size))}bot_${i + 1}",
        1500 + rng.nextInt(1200), Some("BOT")))
    val tail = (0 until cfg.tailPlayers).map { i =>
      val base = (0 until 2 + rng.nextInt(3)).map(_ => Syllables(rng.nextInt(Syllables.size))).mkString
      val elo = math.max(600, math.min(3200, (1500 + 350 * rng.nextGaussianCompat()).toInt))
      val title = if (rng.nextInt(200) == 0) Some(Titles(rng.nextInt(Titles.size))) else None
      Player(s"${base}_$i", elo, title)
    }
    // Zipf(1.1) over the tail ranks, the bots sharing `hotShare` evenly
    val tailW = Array.tabulate(cfg.tailPlayers)(r => math.pow(r + 1.0, -1.1))
    val tailSum = tailW.sum
    val w = Array.fill(cfg.hotBots)(cfg.hotShare / math.max(1, cfg.hotBots)) ++
      tailW.map(_ * (1.0 - cfg.hotShare) / tailSum)
    ((bots ++ tail).toVector, cumulative(w))
  }

  private implicit class Gaussian(val rng: SplittableRandom) extends AnyVal {
    def nextGaussianCompat(): Double = { // Box-Muller: SplittableRandom lacks it on JDK 17
      val u1 = math.max(rng.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
  }

  private def san(rng: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    if (rng.nextInt(40) == 0) { sb.append(if (rng.nextBoolean()) "O-O" else "O-O-O"); return }
    val p = Pieces.charAt(rng.nextInt(Pieces.length))
    if (p != ' ') sb.append(p)
    if (rng.nextInt(5) == 0) {
      if (p == ' ') sb.append(('a' + rng.nextInt(8)).toChar)
      sb.append('x')
    }
    sb.append(('a' + rng.nextInt(8)).toChar).append(('1' + rng.nextInt(8)).toChar)
    if (rng.nextInt(9) == 0) sb.append('+')
  }

  // hand-rolled `%02d` and `%.2f`: String.format per ply was most of the
  // generator's time

  private def pad2(sb: java.lang.StringBuilder, n: Int): java.lang.StringBuilder =
    (if (n < 10) sb.append('0') else sb).append(n)

  private def ymd(y: Int, m: Int, d: Int, sep: Char): String = {
    val sb = new java.lang.StringBuilder(10).append(y).append(sep)
    pad2(pad2(sb, m).append(sep), d).toString
  }

  private def hms(secs: Int): String = {
    val sb = new java.lang.StringBuilder(8)
    pad2(pad2(pad2(sb, secs / 3600 % 24).append(':'), secs / 60 % 60).append(':'), secs % 60).toString
  }

  /** `x` as `%.2f` formats it: half-up on the digits `Double.toString` gives. */
  private def fixed2(x: Double): String = {
    val s = new java.math.BigDecimal(java.lang.Double.toString(math.abs(x)))
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    if (x < 0) "-" + s else s
  }

  private def clock(sb: java.lang.StringBuilder, secs: Int): Unit =
    pad2(pad2(sb.append("[%clk ").append(secs / 3600).append(':'), secs / 60 % 60).append(':'),
      secs % 60).append(']')

  private def movetext(rng: SplittableRandom, result: String, evals: Boolean,
      clocks: Boolean): String = {
    val sb = new java.lang.StringBuilder(1024)
    val plies = 10 + rng.nextInt(110)
    var eval = 0.2
    var clk = Array(180, 180)
    for (ply <- 0 until plies) {
      val mv = ply / 2 + 1
      if (ply % 2 == 0) sb.append(mv).append(". ")
      else if (evals || clocks) sb.append(mv).append("... ")
      san(rng, sb)
      if (evals || clocks) {
        sb.append(" { ")
        if (evals) {
          eval += (rng.nextDouble() - 0.5) * 0.8
          sb.append("[%eval ").append(fixed2(eval)).append("] ")
        }
        if (clocks) {
          clk(ply % 2) = math.max(0, clk(ply % 2) - rng.nextInt(9))
          clock(sb, clk(ply % 2)); sb.append(' ')
        }
        sb.append('}')
      }
      sb.append(' ')
    }
    sb.append(result).toString
  }

  private def gameId(rng: SplittableRandom, ordinal: Long): String = {
    val sb = new StringBuilder
    for (_ <- 0 until 4) sb.append(B62.charAt(rng.nextInt(62)))
    var n = ordinal
    for (_ <- 0 until 4) { sb.append(B62.charAt((n % 62).toInt)); n /= 62 }
    sb.toString
  }

  /** Write one `.pgn.zst` per month into `mirror` and return the answers. */
  def write(seed: Long, cfg: Config, mirror: File): Dumps = {
    mirror.mkdirs()
    val rng = new SplittableRandom(seed)
    val (pool, poolCum) = players(rng, cfg)
    val tournaments = Vector.fill(12)(gameId(rng, 0).take(8))
    val daily = mutable.TreeMap.empty[String, Long]
    val dailyHigh = mutable.TreeMap.empty[String, Long]
    val openings = mutable.HashMap.empty[String, Long]
    val results = mutable.HashMap.empty[String, Long]
    val terms = mutable.HashMap.empty[String, Long]
    val asWhite = mutable.HashMap.empty[String, Long]
    val asBlack = mutable.HashMap.empty[String, Long]
    val openCum = cumulative(Array.tabulate(Openings.size)(r => math.pow(r + 1.0, -0.9)))
    val eventCum = cumulative(EventWeights :+ 0.05 :+ 0.03)
    val perMonth = mutable.LinkedHashMap.empty[String, Long]
    var ordinal = 0L
    var raw = 0L
    val files = for ((y, m) <- cfg.months) yield {
      val days = java.time.YearMonth.of(y, m).lengthOfMonth
      val secs = Array.fill(cfg.gamesPerMonth)(rng.nextInt(days * 86400)).sorted
      val f = new File(mirror, graft.chess.Acquire.monthlyDumpName(y, m))
      val out = new com.github.luben.zstd.ZstdOutputStream(
        new BufferedOutputStream(new FileOutputStream(f), 1 << 16), 3)
      try for (s <- secs) {
        ordinal += 1
        val w = pool(pick(poolCum, rng.nextDouble()))
        var b = pool(pick(poolCum, rng.nextDouble()))
        while (b.name == w.name) b = pool(pick(poolCum, rng.nextDouble()))
        val day = ymd(y, m, s / 86400 + 1, '.')
        val time = hms(s)
        val ev = pick(eventCum, rng.nextDouble())
        val event = ev match {
          case i if i < Events.size => Events(i)
          case i if i == Events.size =>
            s"Rated Blitz tournament https://lichess.org/tournament/${tournaments(rng.nextInt(tournaments.size))}"
          case _ => s"Rated Rapid swiss https://lichess.org/swiss/${tournaments(rng.nextInt(tournaments.size))}"
        }
        val tc = TimeControls(math.min(ev, TimeControls.size - 1))
        val u = rng.nextDouble()
        val result = if (u < 0.49) "1-0" else if (u < 0.95) "0-1" else "1/2-1/2"
        val term = Terminations(pick(TermCum, rng.nextDouble()))
        val (eco, opening) = Openings(pick(openCum, rng.nextDouble()))
        def elo(p: Player): Option[Int] =
          if (rng.nextInt(50) == 0) None else Some(p.elo + rng.nextInt(81) - 40)
        val we = elo(w)
        val be = elo(b)
        def diff(): String =
          if (rng.nextInt(25) == 0) "?" else { val d = rng.nextInt(31) - 15; if (d >= 0) s"+$d" else d.toString }
        val evals = rng.nextInt(7) == 0
        val clocks = evals || rng.nextInt(3) == 0
        val sb = new java.lang.StringBuilder(2048)
        def tagLine(k: String, v: String): Unit =
          sb.append('[').append(k).append(" \"").append(v).append("\"]\n")
        tagLine("Event", event)
        tagLine("Site", s"https://lichess.org/${gameId(rng, ordinal)}")
        tagLine("Date", day)
        tagLine("Round", "-")
        tagLine("White", w.name)
        tagLine("Black", b.name)
        tagLine("Result", result)
        tagLine("UTCDate", day)
        tagLine("UTCTime", time)
        tagLine("WhiteElo", we.fold("?")(_.toString))
        tagLine("BlackElo", be.fold("?")(_.toString))
        tagLine("WhiteRatingDiff", diff())
        tagLine("BlackRatingDiff", diff())
        w.title.foreach(tagLine("WhiteTitle", _))
        b.title.foreach(tagLine("BlackTitle", _))
        tagLine("ECO", eco)
        tagLine("Opening", opening)
        tagLine("TimeControl", tc)
        tagLine("Termination", term)
        sb.append('\n').append(movetext(rng, result, evals, clocks)).append("\n\n")
        val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
        out.write(bytes)
        raw += bytes.length

        val isoDay = ymd(y, m, s / 86400 + 1, '-')
        daily(isoDay) = daily.getOrElse(isoDay, 0L) + 1
        if (we.exists(_ > 2000) && be.exists(_ > 2000))
          dailyHigh(isoDay) = dailyHigh.getOrElse(isoDay, 0L) + 1
        openings(opening) = openings.getOrElse(opening, 0L) + 1
        val winner = result match { case "1-0" => "white"; case "0-1" => "black"; case _ => "draw" }
        results(winner) = results.getOrElse(winner, 0L) + 1
        terms(term) = terms.getOrElse(term, 0L) + 1
        asWhite(w.name) = asWhite.getOrElse(w.name, 0L) + 1
        asBlack(b.name) = asBlack.getOrElse(b.name, 0L) + 1
      } finally out.close()
      perMonth(f"$y%04d_$m%02d") = cfg.gamesPerMonth.toLong
      f
    }
    val total = ordinal
    def byCount(m: collection.Map[String, Long]): Seq[(String, Long)] =
      m.toSeq.sortBy { case (k, n) => (-n, k) }
    def prop(m: collection.Map[String, Long]): Seq[Seq[String]] = {
      val t = m.values.sum.toDouble
      byCount(m).map { case (k, n) => Seq(k, n.toString, (n.toDouble / t).toString) }
    }
    val topPlayers = asWhite.keySet.intersect(asBlack.keySet).toSeq
      .map(p => p -> (asWhite(p) + asBlack(p))).sortBy { case (p, n) => (-n, p) }.take(20)
    val eda = EdaAnswers(Map(
      "chess_daily_counts" -> daily.toSeq.map { case (d, n) => Seq(d, n.toString) },
      "chess_daily_high_elo" -> dailyHigh.toSeq.map { case (d, n) => Seq(d, n.toString) },
      "chess_top_openings" -> byCount(openings).take(20).map { case (o, n) => Seq(o, n.toString) },
      "chess_count" -> Seq(Seq(total.toString)),
      "chess_winner_prop" -> prop(results),
      "chess_termination" -> prop(terms),
      "chess_top_players" -> topPlayers.map { case (p, n) => Seq(p, n.toString) }),
      asWhite.size.toLong, asBlack.size.toLong)
    Dumps(cfg.months, files, perMonth.toMap, total, files.map(_.length).sum, raw, eda)
  }
}
