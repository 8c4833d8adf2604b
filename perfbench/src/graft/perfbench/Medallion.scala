package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.{GoldRunner, GoldSchemas}
import graft.pbp.{GameTeamStats, PossessionEngine}
import graft.rollup.{DailyRollup, RollupAdj}
import graft.silver.Normalize

/** The chained medallion season: raw plays -> silver -> pbp -> rollup
  * -> ratings -> 7 gold tables, each layer reading the lake its
  * predecessor wrote. A step lands a set of dates: the backfill lands
  * the first dates at once, each refresh one more date. Silver and pbp
  * enrichment run on the step's delta; game-team stats, rollup, the
  * rollup solver and gold run over the whole season so far, as the
  * layer functions do today. */
final class SeasonPipeline(spark: SparkSession, dir: String, trace: Trace) {

  val lake = s"$dir/lake"
  import spark.implicits._

  private def read(t: String): DataFrame = spark.read.parquet(s"$lake/$t")

  /** The static silver tables the gold runner reads (teams, ratings,
    * polls, recruiting, player stats), from the raw static feeds. */
  def staticSilver(): Unit =
    SeasonGen.StaticTables.foreach { case (t, pk, ord) =>
      Normalize.rawJsonToSilver(spark, s"$dir/raw/static/$t.json.gz", s"$lake/$t")(
        Normalize.flatTable(_, Map.empty, pk, ord))
    }

  /** Run one step over `dates`; `phase` prefixes the span names
    * (`backfill` or `refresh`). Returns the gold runner's results. */
  def step(phase: String, batch: String, dates: Seq[String])
      : Map[String, Either[String, Long]] = {
    trace.span(s"$phase.silver.plays") {
      def raw(t: String) = s"$dir/raw/$t/date={${dates.mkString(",")}}"
      Normalize.rawJsonToSilver(spark, raw("plays"), s"$lake/fct_plays/batch=$batch")(
        Normalize.plays)
      Normalize.rawJsonToSilver(spark, raw("games"), s"$lake/fct_games/batch=$batch")(
        Normalize.flatTable(_, Map("gameId" -> Seq("gameId", "gameid")),
          Seq("gameId"), "gameId"))
      Normalize.rawJsonToSilver(spark, raw("lines"), s"$lake/fct_lines/batch=$batch")(
        Normalize.lines)
    }
    trace.span(s"$phase.pbp.enrich") {
      val plays = spark.read.parquet(s"$lake/fct_plays/batch=$batch")
      val games = read("fct_games")
      val sides = games.select(col("gameId"), col("homeTeamId").as("teamId"),
          col("awayTeamId").as("opponentId"), lit(true).as("isHomeTeam"))
        .unionByName(games.select(col("gameId"), col("awayTeamId").as("teamId"),
          col("homeTeamId").as("opponentId"), lit(false).as("isHomeTeam")))
      val typed = plays.join(broadcast(sides), Seq("gameId", "teamId"), "left")
        .select(col("id").cast("long"), col("gameId").cast("long"),
          col("teamId").cast("long"), col("opponentId").cast("long"),
          col("period").cast("int"), col("secondsRemaining").cast("long"),
          col("playType"), col("playText"),
          coalesce(col("scoringPlay").cast("boolean"), lit(false)).as("scoringPlay"),
          graft.gold.IoHelpers.colOrNull(plays, "shootingPlay", "boolean")
            .as("shootingPlay"),
          col("scoreValue").cast("double"), col("homeScore").cast("long"),
          col("awayScore").cast("long"), col("isHomeTeam"))
        .as[PossessionEngine.Play]
      PossessionEngine.enrich(typed).toDF()
        .write.mode("overwrite").parquet(s"$lake/pbp_plays_enriched/batch=$batch")
    }
    trace.span(s"$phase.pbp.stats") {
      val enriched = read("pbp_plays_enriched").drop("batch")
      val dates = read("fct_games").select(col("gameId"),
        col("startDate").as("startdate"))
      GameTeamStats.build(enriched)
        .write.mode("overwrite").parquet(s"$lake/fct_pbp_game_team_stats")
      val stats = read("fct_pbp_game_team_stats")
      def js(poss: String, pts: String) =
        concat(lit("{\"possessions\": "), col(poss).cast("string"),
          lit(", \"points\": {\"total\": "), col(pts).cast("string"), lit("}}"))
      stats.select(col("gameId"), col("teamId"),
          js("possessions_formula", "pts").as("teamStats"),
          js("opp_poss_formula", "opp_pts").as("opponentStats"))
        .write.mode("overwrite").parquet(s"$lake/fct_game_teams")
      GameTeamStats.build(enriched, excludeGarbage = true)
        .join(dates, Seq("gameId"))
        .select(col("gameId").as("gameid"), col("teamId").as("teamid"),
          col("opponentId").as("opponentid"), col("startdate"),
          col("is_home_team").as("ishometeam"),
          col("pts").as("team_points_total"),
          col("opp_pts").as("opp_points_total"),
          col("possessions_formula").as("team_possessions_formula"),
          col("opp_poss_formula").as("opp_possessions_formula"))
        .write.mode("overwrite")
        .parquet(s"$lake/fct_pbp_game_teams_flat_garbage_removed")
    }
    trace.span(s"$phase.rollup.daily") {
      val stats = read("fct_pbp_game_team_stats")
      val gameDates = read("fct_games").select(col("gameId"), col("startDate"))
      DailyRollup.build(DailyRollup.fromGameTeamStats(stats, gameDates))
        .write.mode("overwrite").parquet(s"$lake/fct_pbp_team_daily_rollup_history")
      // the gold transforms read one row per team: the latest date
      latest(read("fct_pbp_team_daily_rollup_history"), "date")
        .write.mode("overwrite").parquet(s"$lake/fct_pbp_team_daily_rollup")
    }
    trace.span(s"$phase.rollup.adj") {
      val stats = read("fct_pbp_game_team_stats")
      val flat = stats.join(read("fct_games").select(col("gameId"),
          col("startDate").as("startdate")), Seq("gameId"))
        .select(col("teamId").as("teamid"), col("opponentId").as("opponentid"),
          col("startdate"), col("is_home_team").as("ishometeam"),
          col("pts").as("team_points_total"), col("opp_pts").as("opp_points_total"),
          col("possessions_formula").as("team_possessions"),
          col("opp_poss_formula").as("opp_possessions"),
          col("possessions_formula").as("team_possessions_formula"),
          col("opp_poss_formula").as("opp_possessions_formula"))
      latest(RollupAdj.build(spark, flat), "rating_date")
        .write.mode("overwrite").parquet(s"$lake/fct_pbp_team_daily_rollup_adj")
    }
    trace.span(s"$phase.gold.runner") {
      GoldRunner.run(spark, lake, SeasonGen.Season)
    }
  }

  private def latest(df: DataFrame, dateCol: String): DataFrame = {
    val last = df.agg(max(col(dateCol))).head().get(0)
    df.filter(col(dateCol) === lit(last))
  }

  /** The step's output checks; each failed check is a message. Every
    * gold table is built, with the row count the season implies, and
    * ordered and typed as `GoldSchemas.conform` says; plays,
    * possessions, points and games are conserved from raw to rollup. */
  def check(gold: Map[String, Either[String, Long]],
      truth: Seq[GameTruth], spec: SeasonSpec): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    expect("gold tables", gold.keySet, GoldRunner.transforms.keySet)
    gold.collect { case (t, Left(e)) => errs += s"$t failed: ${e.take(300)}" }
    val dates = truth.map(_.date).distinct.sorted
    val teamsBy = dates.map(d =>
      truth.filter(_.date <= d).flatMap(g => Seq(g.home, g.away)).distinct.size)
    val want: Map[String, Long] = Map(
      "team_adjusted_efficiencies" -> teamsBy.sum.toLong,
      "team_adjusted_efficiencies_no_garbage" -> teamsBy.sum.toLong,
      "market_lines_analysis" -> 2L * truth.count(_.hasLine), // two providers
      "game_predictions_features" -> 2L * truth.size,
      "team_season_summary" -> spec.teams.toLong,
      "team_power_rankings" -> spec.teams.toLong,
      "player_season_impact" -> 13L * spec.teams)
    gold.collect { case (t, Right(n)) => expect(s"$t rows", n, want(t)) }
    gold.keys.filter(gold(_).isRight).foreach { t =>
      val df = spark.read.parquet(s"$lake/gold/$t")
      val cols = df.columns.filter(_ != "season").toSeq
      expect(s"$t column order", cols, cols.sorted)
      def types(d: DataFrame) = d.schema.fields.map(f => f.name -> f.dataType).toSeq
      expect(s"$t column types", types(df.drop("season")),
        types(GoldSchemas.conform(df.drop("season"), t)))
    }
    val plays = truth.map(_.plays.toLong).sum
    expect("silver plays", read("fct_plays").count(), plays)
    val enriched = read("pbp_plays_enriched")
    expect("enriched plays", enriched.count(), plays)
    val ended = enriched.filter(col("possession_end") &&
      col("offense_team_id").isNotNull).count()
    val stats = read("fct_pbp_game_team_stats")
    val poss = stats.agg(sum(col("possessions_event")), sum(col("pts"))).head()
    expect("possessions conserved", poss.getLong(0), ended)
    expect("points conserved", poss.getDouble(1).toLong,
      truth.map(g => g.homeScore + g.awayScore).sum)
    val roll = read("fct_pbp_team_daily_rollup")
      .agg(sum(col("games_played")), sum(col("team_points_total"))).head()
    expect("rollup games", roll.getLong(0), 2L * truth.size)
    expect("rollup points", roll.getDouble(1).toLong,
      truth.map(g => g.homeScore + g.awayScore).sum)
    errs.toSeq
  }

  /** Sum of the ratings solver's `iterations` over the gold output. */
  def ratingsSweeps(): Long =
    spark.read.parquet(s"$lake/gold/team_adjusted_efficiencies")
      .agg(sum(col("iterations").cast("long"))).head().getLong(0)

  /** Order-insensitive per-table digest of the gold lake (doubles
    * rounded to 9 decimal places), for comparing two runs. */
  def goldDigest(): Map[String, (Long, String)] =
    GoldRunner.transforms.keys.toSeq.sorted.map { t =>
      val df = spark.read.parquet(s"$lake/gold/$t")
      val cols = df.columns.sorted.map { c =>
        df.schema(c).dataType match {
          case org.apache.spark.sql.types.DoubleType =>
            format_number(col(c), 9).as(c)
          case _ => col(c).cast("string").as(c)
        }
      }
      val sel = df.select(cols.toIndexedSeq: _*)
      val h = sel.select(xxhash64(sel.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
        .head()
      t -> (h.getLong(0), String.valueOf(h.get(1)))
    }.toMap
}

object MedallionWorkload extends Workload {

  val Spec = SeasonSpec()
  private var truth: IndexedSeq[GameTruth] = IndexedSeq.empty

  /** Writes the raw season, then lands the static feeds in silver. */
  def setup(c: Ctx, dir: String): Seq[String] = {
    truth = SeasonGen.write(Spec, c.seed, dir)
    new SeasonPipeline(c.spark, dir, c.trace).staticSilver()
    Nil
  }

  def run(c: Ctx, dir: String): Unit = {
    val p = new SeasonPipeline(c.spark, dir, c.trace)
    val dates = (0 until Spec.dates).map(Spec.dateAt)
    val back = dates.take(Spec.backfillDates)
    // set-up has landed the static feeds through silver, so Spark is
    // past its first queries; the backfill's own plans are still new
    c.rec.op("backfill")(p.step("backfill", "backfill", back)) { gold =>
      p.check(gold, truth.filter(g => back.contains(g.date)), Spec)
    }
    c.rec.values("backfill.ratings.sweeps") = p.ratingsSweeps().toDouble
    // the daily refresh runs in traced runs only: a second pass of the
    // chain does not fit the untraced runs' time budget
    if (c.trace.traced) {
      val sweeps = dates.drop(Spec.backfillDates).map { d =>
        c.rec.op("refresh")(p.step("refresh", d, Seq(d))) { gold =>
          p.check(gold, truth.filter(_.date <= d), Spec)
        }
        p.ratingsSweeps()
      }
      c.rec.values("refresh.ratings.sweeps") = sweeps.sum.toDouble / sweeps.size
    }
  }
}

/** Refresh-then-gold must equal a from-scratch backfill over the same
  * dates: a small season is run both ways and every gold table's
  * order-insensitive digest compared. One operation, failed on any
  * difference. */
object MedallionSelfCheck extends Workload {
  private val Spec = SeasonSpec(teams = 40, gamesPerDate = 10,
    backfillDates = 1, refreshDates = 2)

  def setup(c: Ctx, dir: String): Seq[String] = Nil

  def run(c: Ctx, dir: String): Unit = {
    val dates = (0 until Spec.dates).map(Spec.dateAt)
    def lake(sub: String) = {
      val t = SeasonGen.write(Spec, c.seed, s"$dir/$sub")
      val p = new SeasonPipeline(c.spark, s"$dir/$sub", c.trace)
      p.staticSilver()
      (p, t)
    }
    c.rec.op("selfcheck") {
      val (inc, t) = lake("incremental")
      val steps = inc.step("backfill", "b", dates.take(Spec.backfillDates)) +:
        dates.drop(Spec.backfillDates).map(d => inc.step("refresh", d, Seq(d)))
      val (full, _) = lake("from_scratch")
      val last = full.step("backfill", "b", dates)
      (inc, full, t, steps :+ last)
    } { case (inc, full, t, steps) =>
      val a = inc.goldDigest()
      val b = full.goldDigest()
      steps.flatMap(_.collect { case (n, Left(e)) => s"$n failed: ${e.take(300)}" }) ++
        full.check(steps.last, t, Spec) ++
        a.keys.toSeq.sorted.filter(k => a(k) != b(k)).map(k =>
          s"$k: incremental ${a(k)} != from-scratch ${b(k)}")
    }
  }
}
