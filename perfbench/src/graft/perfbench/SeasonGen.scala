package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream


/** Seeded generator for the medallion season. Everything derives from
  * the seed, so one seed always yields the same files.
  *
  * Traffic dimensions and why each has its size:
  *  - teams 360: the D1 field; the season solvers' state is team-sized.
  *  - games per date 45: a busy mid-season weekday; sets the size of a
  *    refresh's delta.
  *  - dates: a 2-date backfill, then (traced runs only) 1 daily
  *    refresh. One pass of the chain costs ~20 s warm and ~45 s cold
  *    at any season length (mostly per-job overhead in rollup, the
  *    solvers and gold), and a run must fit the benchmark's time
  *    budget, so the window is short.
  *  - ~320 plays per game: a real game's play-by-play length, so the
  *    silver parse and the per-game sessionizer get real-sized groups.
  *  - payload: every play carries a 10-player `onFloor` array and shots
  *    a nested `shotInfo`, both as JSON text; one game in 7 writes them
  *    as Python-repr text and one in 50 spells `gameid`, so the silver
  *    healing paths run.
  *  - blowout share 0.2: a fifth of games are lopsided enough to reach
  *    garbage time, so the garbage-removed tables differ from the full.
  */
final case class SeasonSpec(teams: Int = 360, gamesPerDate: Int = 45,
    backfillDates: Int = 2, refreshDates: Int = 1,
    blowoutShare: Double = 0.2, firstDate: String = "2024-11-04") {
  def dates: Int = backfillDates + refreshDates
  def dateAt(i: Int): String =
    java.time.LocalDate.parse(firstDate).plusDays(i.toLong).toString
}

/** What the generator knows about the season it wrote; the output
  * checks compare the pipeline's results against these. */
final case class GameTruth(gameId: Long, date: String, home: Long,
    away: Long, homeScore: Long, awayScore: Long, plays: Int,
    hasLine: Boolean)

object SeasonGen {

  val Season = 2025

  def conference(team: Long): String = s"Conference ${team % 32}"

  /** Writes the raw layer under `dir/raw` as gzip NDJSON: plays, games
    * and lines one directory per date, plus the static feeds. Plain
    * JVM code, no Spark. Returns the per-game truth. */
  def write(spec: SeasonSpec, seed: Long, dir: String): IndexedSeq[GameTruth] = {
    val rng = new java.util.SplittableRandom(seed)
    val strength = Array.fill(spec.teams + 1)(rng.nextGaussian() * 0.04)
    val truths = (0 until spec.dates).flatMap { di =>
      val date = spec.dateAt(di)
      val order = shuffled(rng, (1 to spec.teams).map(_.toLong))
      val games = (0 until spec.gamesPerDate).map { g =>
        val gameId = (di + 1) * 1000L + g + 1
        (gameId, order(2 * g), order(2 * g + 1))
      }
      val f = new java.io.File(s"$dir/raw/plays/date=$date/plays.json.gz")
      f.getParentFile.mkdirs()
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(f), 1 << 16), "UTF-8"), 1 << 16)
      val out = try games.map { case (gameId, home, away) =>
        val blowout = rng.nextDouble() < spec.blowoutShare
        val edge = strength(home.toInt) - strength(away.toInt) +
          (if (blowout) 0.22 else 0.0)
        val (hs, as, n) = simulateGame(rng, w, gameId, home, away, edge)
        GameTruth(gameId, date, home, away, hs, as, n,
          hasLine = gameId % 5 != 0)
      } finally w.close()
      out
    }
    writeTables(spec, seed, dir, truths)
    truths
  }

  private def shuffled[T](rng: java.util.SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** One game's plays, written as NDJSON lines; returns the final
    * score and the play count. Possessions alternate; each is a
    * turnover or one or more shots (offensive rebounds extend it),
    * with shooting fouls sending the shooter to the line. */
  private def simulateGame(rng: java.util.SplittableRandom, w: BufferedWriter,
      gameId: Long, home: Long, away: Long, edge: Double): (Long, Long, Int) = {
    var seq = 0
    var hs = 0L
    var as = 0L
    val pyRepr = gameId % 7 == 0
    val gameKey = if (gameId % 50 == 0) "gameid" else "gameId"
    def roster(t: Long) = (0 until 5).map(i => t * 100 + (i + (seq / 40)) % 13)
    def q(s: String) = if (pyRepr) s.replace('"', '\'') else s
    def onFloor: String = (roster(home) ++ roster(away))
      .map(p => s"""{"id": $p, "name": "Player $p"}""").mkString("[", ", ", "]")
    def emit(team: Option[Long], period: Int, sec: Long, playType: String,
        text: String, scoring: Boolean, shooting: Boolean,
        value: Option[Double], shot: Option[String]): Unit = {
      seq += 1
      val sb = new StringBuilder(640)
      sb.append("{\"id\":").append(gameId * 1000 + seq)
        .append(",\"").append(gameKey).append("\":").append(gameId)
      team.foreach(t => sb.append(",\"teamId\":").append(t))
      sb.append(",\"period\":").append(period)
        .append(",\"secondsRemaining\":").append(sec)
        .append(",\"playType\":\"").append(playType)
        .append("\",\"playText\":\"").append(text)
        .append("\",\"scoringPlay\":").append(scoring)
        .append(",\"shootingPlay\":").append(shooting)
      value.foreach(v => sb.append(",\"scoreValue\":").append(v))
      sb.append(",\"homeScore\":").append(hs).append(",\"awayScore\":").append(as)
        .append(",\"onFloor\":").append(jsonString(q(onFloor)))
      shot.foreach(s => sb.append(",\"shotInfo\":").append(jsonString(q(s))))
      sb.append("}\n")
      w.write(sb.toString)
    }
    def score(team: Long, pts: Int): Unit =
      if (team == home) hs += pts else as += pts

    for (period <- 1 to 2) {
      var sec = 1200L
      var offense = if ((gameId + period) % 2 == 0) home else away
      while (sec > 0) {
        val defense = if (offense == home) away else home
        val pMake = 0.50 + (if (offense == home) edge else -edge)
        sec = math.max(0L, sec - (8 + rng.nextInt(14)))
        if (rng.nextDouble() < 0.15) {
          emit(Some(offense), period, sec, "Lost Ball Turnover",
            s"Turnover by team $offense", scoring = false, shooting = false,
            None, None)
        } else {
          var live = true
          while (live) {
            val three = rng.nextDouble() < 0.35
            val kind = if (three) "JumpShot" else Seq("JumpShot", "LayUpShot", "DunkShot")(rng.nextInt(3))
            val value = if (three) 3.0 else 2.0
            val made = rng.nextDouble() < (if (three) pMake - 0.15 else pMake)
            val shooter = offense * 100 + rng.nextInt(13)
            val info = s"""{"shooter": {"id": $shooter, "name": "Player $shooter"}, """ +
              s""""made": "$made", "range": "${if (three) "three_pointer" else "jumper"}", """ +
              s""""assisted": "${rng.nextBoolean()}", "assistedBy": null, """ +
              s""""location": {"x": ${rng.nextInt(94)}.5, "y": ${rng.nextInt(50)}.25}}"""
            if (made) score(offense, value.toInt)
            emit(Some(offense), period, sec, kind,
              s"Player $shooter ${if (made) "made" else "missed"} $kind",
              scoring = made, shooting = true, Some(value), Some(info))
            val fouled = rng.nextDouble() < 0.12
            if (fouled) {
              emit(Some(defense), period, sec, "PersonalFoul",
                s"Foul on team $defense", scoring = false, shooting = false,
                None, None)
              val fts = if (made) 1 else value.toInt
              for (k <- 1 to fts) {
                val ftMade = rng.nextDouble() < 0.72
                if (ftMade) score(offense, 1)
                emit(Some(offense), period, sec,
                  if (ftMade) "MadeFreeThrow" else "MissedFreeThrow",
                  s"Free Throw $k of $fts", scoring = ftMade, shooting = false,
                  Some(1.0), None)
                if (k == fts && !ftMade) {
                  emit(Some(defense), period, sec, "Defensive Rebound",
                    s"Rebound by team $defense", scoring = false,
                    shooting = false, None, None)
                }
              }
              live = false
            } else if (made) {
              live = false
            } else if (rng.nextDouble() < 0.28) {
              emit(Some(offense), period, sec, "Offensive Rebound",
                s"Rebound by team $offense", scoring = false,
                shooting = false, None, None)
              sec = math.max(0L, sec - (2 + rng.nextInt(5)))
            } else {
              emit(Some(defense), period, sec, "Defensive Rebound",
                s"Rebound by team $defense", scoring = false,
                shooting = false, None, None)
              live = false
            }
          }
        }
        offense = defense
      }
      emit(None, period, 0L, if (period == 2) "End Game" else "End Period",
        s"End of period $period", scoring = false, shooting = false, None, None)
    }
    (hs, as, seq)
  }

  private def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    sb.append('"')
    s.foreach { c =>
      if (c == '"' || c == '\\') sb.append('\\')
      sb.append(c)
    }
    sb.append('"').toString
  }

  /** Gzip NDJSON writer for one raw file. */
  private def ndjson(path: String)(body: (Seq[(String, Any)] => Unit) => Unit): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f), 1 << 16), "UTF-8"), 1 << 16)
    def lit(v: Any): String = v match {
      case s: String => jsonString(s)
      case null => "null"
      case x => x.toString
    }
    try body(kv => w.write(kv.map { case (k, v) => s""""$k":${lit(v)}""" }
      .mkString("{", ",", "}\n")))
    finally w.close()
  }

  /** Raw per-date games and lines (what the reference's games and lines
    * endpoints land; lines carry their providers as a JSON-text array)
    * and the raw static feeds the gold runner's silver inputs come
    * from: teams, ratings, polls, recruiting, player stats. */
  private def writeTables(spec: SeasonSpec, seed: Long, dir: String,
      truths: Seq[GameTruth]): Unit = {
    truths.groupBy(_.date).foreach { case (date, gs) =>
      ndjson(s"$dir/raw/games/date=$date/games.json.gz") { put =>
        gs.foreach(g => put(Seq("gameId" -> g.gameId,
          "startDate" -> s"${g.date}T19:00:00", "homeTeamId" -> g.home,
          "awayTeamId" -> g.away, "homeScore" -> g.homeScore,
          "awayScore" -> g.awayScore, "neutralSite" -> (g.gameId % 20 == 0))))
      }
      ndjson(s"$dir/raw/lines/date=$date/lines.json.gz") { put =>
        gs.filter(_.hasLine).foreach { g =>
          val half = ((g.homeScore - g.awayScore) / 2).toDouble
          val total = (g.homeScore + g.awayScore).toDouble
          val lines = Seq(("consensus", -half + 0.5, total + 0.5, -150.0, 130.0),
              ("bovada", -half - 0.5, total - 0.5, -145.0, 125.0))
            .map { case (p, sp, ou, hm, am) =>
              s"""{"provider": "$p", "spread": $sp, "overUnder": $ou, """ +
                s""""homeMoneyline": $hm, "awayMoneyline": $am}"""
            }.mkString("[", ", ", "]")
          put(Seq("gameId" -> g.gameId, "lines" -> lines))
        }
      }
    }
    val rng = new java.util.SplittableRandom(seed ^ 0x5eed)
    val teams = (1 to spec.teams).map(_.toLong)
    val st = s"$dir/raw/static"
    ndjson(s"$st/dim_teams.json.gz") { put =>
      teams.foreach(t => put(Seq("teamId" -> t, "school" -> s"School $t",
        "conference" -> conference(t))))
    }
    ndjson(s"$st/fct_ratings_adjusted.json.gz") { put =>
      teams.foreach { t =>
        val o = 95.0 + rng.nextInt(80) * 0.25
        val d = 95.0 + rng.nextInt(80) * 0.25
        put(Seq("teamid" -> t, "team" -> s"School $t", "conference" -> conference(t),
          "offenserating" -> o, "defenserating" -> d, "netrating" -> (o - d)))
      }
    }
    ndjson(s"$st/fct_ratings_srs.json.gz") { put =>
      teams.foreach { t =>
        put(Seq("teamId" -> t, "season" -> Season, "rating" -> (rng.nextInt(80) * 0.25 - 10.0)))
        put(Seq("teamId" -> t, "season" -> (Season - 1), "rating" -> 0.0))
      }
    }
    ndjson(s"$st/fct_rankings.json.gz") { put =>
      teams.filter(_ <= 40).foreach { t =>
        put(Seq("pollType" -> "AP Top 25", "pollDate" -> "2024-11-11", "teamId" -> t, "ranking" -> (t + 2)))
        put(Seq("pollType" -> "AP Top 25", "pollDate" -> "2024-11-18", "teamId" -> t, "ranking" -> t))
        put(Seq("pollType" -> "Coaches Poll", "pollDate" -> "2024-11-18", "teamId" -> t, "ranking" -> (t + 1)))
      }
    }
    val players = teams.flatMap(t => (0 until 13).map(i => (t, t * 100 + i)))
    ndjson(s"$st/fct_recruiting_players.json.gz") { put =>
      players.filter(_._2 % 4 == 0).foreach { case (t, p) =>
        put(Seq("playerId" -> p, "season" -> Season, "stars" -> (3 + rng.nextInt(3)),
          "ranking" -> (1 + rng.nextInt(300)), "rating" -> (0.5 + rng.nextInt(16) / 32.0),
          "committedTo" -> (if (p % 2 == 0) s"SCHOOL $t" else s"school $t")))
      }
    }
    ndjson(s"$st/fct_player_season_stats.json.gz") { put =>
      players.foreach { case (t, p) =>
        val games = if (p % 13 == 12) 0L else 5L + rng.nextInt(4)
        put(Seq("playerId" -> p, "team" -> s"School $t", "conference" -> conference(t),
          "games" -> games, "minutes" -> games * (5.0 + rng.nextInt(30)),
          "points" -> rng.nextInt(120).toDouble, "rebounds" -> rng.nextInt(60).toDouble,
          "assists" -> rng.nextInt(40).toDouble, "turnovers" -> rng.nextInt(20).toDouble,
          "fieldGoalsMade" -> rng.nextInt(50).toDouble,
          "fieldGoalsAttempted" -> (50.0 + rng.nextInt(50)),
          "threePointFieldGoalsMade" -> rng.nextInt(20).toDouble,
          "threePointFieldGoalsAttempted" -> rng.nextInt(40).toDouble,
          "freeThrowsMade" -> rng.nextInt(30).toDouble,
          "freeThrowsAttempted" -> rng.nextInt(40).toDouble))
      }
    }
  }

  /** Static feeds: raw file name -> (primary key, dedup order column). */
  val StaticTables: Seq[(String, Seq[String], String)] = Seq(
    ("dim_teams", Seq("teamId"), "teamId"),
    ("fct_ratings_adjusted", Seq("teamid"), "teamid"),
    ("fct_ratings_srs", Seq("teamId", "season"), "teamId"),
    ("fct_rankings", Seq("pollType", "pollDate", "teamId"), "teamId"),
    ("fct_recruiting_players", Seq("playerId"), "playerId"),
    ("fct_player_season_stats", Seq("playerId"), "playerId"))
}
