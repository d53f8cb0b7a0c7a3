package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.models.testkit.NpoFixtures

/** Seeded generator of NPO-shaped source tables for the `npo_daily` workload.
  *
  * Every table has exactly the schema of its `NpoFixtures` counterpart, so the
  * checked-in project and the DuckDB oracles read it unchanged. Values are
  * pure functions of (seed, row id) through `xxhash64`, so the same seed gives
  * the same content however Spark partitions the work. The events, schedule,
  * POMS and dimension tables have row counts fixed by the sizes; the weekly
  * Quintly and pages tables leave out about one series-week in ten at random.
  *
  * Keys line up across tables so every reporting model joins to real rows:
  * broadcasts and plays point at generated episodes, episodes at generated
  * series, and the vertaaltabel, Quintly and pages tables carry one title per
  * series. Floating-point measures are whole numbers (or halves), and episode
  * durations are 1024, 2048 or 4096 seconds, so every ratio the reporting
  * models form is an exact binary fraction: sums do not depend on the
  * aggregation order, and Spark and the DuckDB oracles agree bit for bit,
  * also after the dashboard's floor(x + 0.5) rounding.
  */
final case class NpoSizes(series: Int, episodesPerSeries: Int, events: Long,
                          users: Int, slotsPerDay: Int, historyFrom: String,
                          /** Rows every reporting model must join to real data. */
                          rowFloor: Long)

object NpoSizes {
  val full = NpoSizes(series = 80, episodesPerSeries = 16, events = 1000000L,
    users = 30000, slotsPerDay = 6, historyFrom = "2020-01-01", rowFloor = 80)
  val tiny = NpoSizes(series = 6, episodesPerSeries = 4, events = 6000L,
    users = 200, slotsPerDay = 2, historyFrom = "2020-11-01", rowFloor = 1)
}

final class NpoGen(spark: SparkSession, seed: Long, sz: NpoSizes) {
  import spark.implicits._

  private val today = NpoFixtures.today.toString
  private val nEpisodes = sz.series.toLong * sz.episodesPerSeries
  private val liveChannels = Seq("NPO 1" -> "CH1", "NPO 2" -> "CH2", "NPO 3" -> "CH3")
  private lazy val fixtureSchemas = NpoFixtures.all(spark).map { case (n, df) => n -> df.schema }

  /** Pseudo-random non-negative long in [0, m), a function of (seed, salt, cols). */
  private def rnd(salt: Int, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(m))

  private def pick(salt: Int, choices: Seq[String], cols: Column*): Column =
    element_at(typedLit(choices), (rnd(salt, choices.size.toLong, cols: _*) + 1).cast("int"))

  private def fmt(pattern: String, c: Column): Column = format_string(pattern, c)
  private def seriesMid(s: Column) = fmt("SER%04d", s)
  private def seasonMid(s: Column, k: Column) = concat(fmt("SEA%04d", s), lit("_"), k.cast("string"))
  private def episodeMid(e: Column) = fmt("EP%06d", e)
  private def seriesTitle(s: Column) = fmt("Serie %d", s)

  /** Cast every column to the fixture table's type (nested fields made
    * nullable, which a cast requires), in the fixture's order.
    */
  private def conform(name: String, df: DataFrame): DataFrame = {
    def relax(t: DataType): DataType = t match {
      case a: ArrayType => ArrayType(relax(a.elementType), containsNull = true)
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = relax(f.dataType),
        nullable = true)))
      case other => other
    }
    val schema = fixtureSchemas(name)
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(relax(f.dataType)).as(f.name)): _*)
  }

  private def days(from: String, to: String): DataFrame =
    spark.sql(s"SELECT explode(sequence(DATE '$from', DATE '$to', interval 1 day)) AS day")

  /** Mondays from the reporting spine's epoch up to `today`. */
  private def weeks: DataFrame =
    spark.sql(s"SELECT explode(sequence(DATE '2018-12-31', DATE '$today', interval 7 days)) AS wk")

  private def poms: DataFrame = {
    val e = col("id")
    val s = (e / sz.episodesPerSeries).cast("long")
    val k = (e % sz.episodesPerSeries >= sz.episodesPerSeries / 2).cast("int") + 1
    val ref = (t: String, mid: Column, idx: Column) =>
      struct(lit(t).as("type"), mid.as("mid_ref"), idx.cast("long").as("index"))
    val episodes = spark.range(nEpisodes).select(
      episodeMid(e).as("id"),
      when(rnd(1, 20, e) === 0, "SEGMENT").otherwise("BROADCAST").as("type"),
      to_timestamp(from_unixtime(unix_timestamp(lit(s"${sz.historyFrom} 00:00:00")) +
        rnd(2, 700L * 86400, e))).as("sort_date"),
      (pow(lit(2), rnd(3, 3, e)) * 1024000).cast("long").as("duration"),
      pick(4, Seq("ALL", "6", "9", "12", "16"), e).as("age_rating"),
      array(ref("SERIES", seriesMid(s), lit(1)),
        ref("SEASON", seasonMid(s, k), e % sz.episodesPerSeries + 1)).as("episode_of"),
      array(ref("SERIES", seriesMid(s), lit(1)), ref("SEASON", seasonMid(s, k), lit(1)))
        .as("descendant_of"),
      when(rnd(5, 3, e) === 0, array().cast("array<struct<type:string,mid_ref:string,index:bigint>>"))
        .otherwise(array(ref("SEASON", seasonMid(s, k), lit(1)))).as("member_of"),
      array(struct(pick(6, Seq("3.0.1.1.2", "3.0.1.2", "3.0.2.1", "3.0.3"), s).as("id"),
        array(pick(7, Seq("Jeugd", "Nieuws", "Drama", "Sport"), s),
          pick(8, Seq("Animatie", "Actualiteit", "Serie", "Live"), s)).as("terms"))).as("genres"),
      when(rnd(9, 4, e) === 0, array(struct(lit("ZAPP").as("net"), lit("NED3").as("channel")),
          struct(lit("NPO").as("net"), lit("NED1").as("channel"))))
        .otherwise(array(struct(lit("NPO").as("net"),
          pick(10, Seq("NED1", "NED2", "NED3", "NPO1EXTRA"), e).as("channel"))))
        .as("schedule_events"),
      when(rnd(11, 5, e) === 0, array(struct(lit("PP").as("id"), lit("PP").as("value")),
          struct(lit("NOS").as("id"), lit("NOS").as("value"))))
        .otherwise(array(struct(pick(12, Seq("NOS", "VPRO", "BNNVARA", "KRO-NCRV", "AVROTROS"), s)
          .as("id"), pick(12, Seq("NOS", "VPRO", "BNNVARA", "KRO-NCRV", "AVROTROS"), s).as("value"))))
        .as("broadcasters"),
      array(struct(concat(seriesTitle(s), lit(" afl. "), (e % sz.episodesPerSeries + 1)
          .cast("string")).as("value")),
        struct(fmt("Sub %d", e).as("value"))).as("titles"))
    val series = spark.range(sz.series).select(
      seriesMid(col("id")).as("id"), lit("SERIES").as("type"),
      to_timestamp(lit("2018-06-01 00:00:00")).as("sort_date"), lit(0L).as("duration"),
      lit("ALL").as("age_rating"),
      array().cast("array<struct<type:string,mid_ref:string,index:bigint>>").as("episode_of"),
      array().cast("array<struct<type:string,mid_ref:string,index:bigint>>").as("descendant_of"),
      array().cast("array<struct<type:string,mid_ref:string,index:bigint>>").as("member_of"),
      array().cast("array<struct<id:string,terms:array<string>>>").as("genres"),
      array().cast("array<struct<net:string,channel:string>>").as("schedule_events"),
      array(struct(lit("NOS").as("id"), lit("NOS").as("value"))).as("broadcasters"),
      array(struct(seriesTitle(col("id")).as("value"))).as("titles"))
    conform("audiovisual_metadata_poms_metadata_v1", episodes.unionByName(series))
  }

  private def dim: DataFrame = {
    val e = col("id")
    val s = (e / sz.episodesPerSeries).cast("long")
    val k = (e % sz.episodesPerSeries >= sz.episodesPerSeries / 2).cast("int") + 1
    conform("dim_poms_episodes", spark.range(nEpisodes).select(
      episodeMid(e).as("episode_id"), seriesMid(s).as("series_ref"),
      seriesTitle(s).as("series_title"), lit("BROADCAST").as("episode_type"),
      seasonMid(s, k).as("season_ref"), (e % sz.episodesPerSeries + 1).as("index"),
      k.as("season_index"),
      when(rnd(13, 10, e) === 0, lit(null).cast("timestamp"))
        .otherwise(to_timestamp(from_unixtime(unix_timestamp(lit(s"${sz.historyFrom} 20:00:00")) +
          rnd(14, 700, e) * 86400))).as("start_linear_first_broadcast")))
  }

  /** One show per NPO channel, day and slot; begin times are distinct per
    * channel (the as-of match has no ties) and shows overlap their successor
    * by a few minutes half of the time. A non-NPO channel rides along and is
    * filtered out by every model.
    */
  private def advantedge: DataFrame = {
    val chans = liveChannels.map(_._1) :+ "RTL 4"
    val grid = days(sz.historyFrom, today)
      .crossJoin(chans.zipWithIndex.toDF("channel", "ch"))
      .crossJoin(spark.range(sz.slotsPerDay).toDF("slot"))
    val key = Seq(col("day").cast("string"), col("ch"), col("slot"))
    val begin = to_timestamp(from_unixtime(unix_timestamp(col("day").cast("timestamp")) +
      lit(16 * 3600) + col("slot") * 45 * 60 + col("ch") * 7 * 60))
    val ep = rnd(15, nEpisodes, key: _*)
    val s = (ep / sz.episodesPerSeries).cast("long")
    conform("advantedge_tv_viewer_density_per_show_daily_v1", grid.select(
      col("day").as("date"), begin.as("beginTimeCET"),
      to_timestamp(from_unixtime(unix_timestamp(begin) + (rnd(16, 20, key: _*) + 35) * 60))
        .as("endTimeCET"),
      seriesTitle(s).as("title"), col("channel"), episodeMid(ep).as("mediaId"),
      (rnd(17, 900000, key: _*) + 1000).cast("double").as("kdh"),
      when(rnd(18, 5, key: _*) === 0, "RERUN").otherwise("FIRST").as("RepeatType"),
      lit("6+").as("audience"), lit("Nat[SKO]").as("universe")))
  }

  /** Plays of about three events each, spread evenly over the days from
    * `historyFrom` to `today`, so the 9-day incremental window holds 9 days'
    * share of them, as in a daily re-run. A quarter are livestream plays
    * timed inside the broadcast slots; VOD plays pick episodes with
    * Zipf(1.1) popularity (the skew of the `MakeSf --zipf` corpus), drawn by
    * inverting its continuous distribution function.
    */
  private def mediaEvents: DataFrame = {
    val i = col("id")
    val p = (i / 3).cast("long")
    val live = rnd(20, 4, p) === 0
    val spanDays = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(sz.historyFrom), NpoFixtures.today.toLocalDate) + 1
    val day = unix_timestamp(lit(s"${sz.historyFrom} 00:00:00")) + rnd(22, spanDays, p) * 86400
    val tod = when(live, lit(16 * 3600) + rnd(24, 6 * 3600, p)).otherwise(rnd(25, 86400, p))
    val ts = to_timestamp(from_unixtime(day + tod + (i % 3) * 37))
    val u = rnd(26, sz.users, p)
    val ch = rnd(27, liveChannels.size, p)
    val uf = rnd(28, 1000000, p).cast("double") / 1e6
    val zipfTail = 1 - math.pow(nEpisodes + 1.0, -0.1)
    val ep = least(pow(lit(1) - uf * zipfTail, -10).cast("long") - 1, lit(nEpisodes - 1))
    val s = (ep / sz.episodesPerSeries).cast("long")
    val chanName = element_at(typedLit(liveChannels.map(_._1)), (ch + 1).cast("int"))
    val chanId = element_at(typedLit(liveChannels.map(_._2)), (ch + 1).cast("int"))
    conform("media_events", spark.range(sz.events).select(
      concat(lit("P"), p.cast("string")).as("d_rm_playid"),
      concat(lit("V"), u.cast("string"), lit("-"), (p % 7).cast("string")).as("d_visit_id"),
      concat(lit("U"), u.cast("string")).as("d_uv_id"),
      ts.as("d_date_hour_event"),
      when(i % 3 === 0, "Play").otherwise(pick(29, Seq("Refresh", "Pause", "Play"), i))
        .as("d_rm_action"),
      pick(30, Seq("npo", "nos", "zapp"), p).as("d_rm_l2"),
      rnd(31, 900, i).cast("double").as("d_rm_playback_time"),
      when(rnd(32, 30, p) === 0, "Animations").otherwise("Video").as("d_rm_type"),
      when(live, concat(chanName, lit(" Live_||_"),
          when(rnd(33, 50, p) === 0, lit("CHX")).otherwise(chanId)))
        .when(rnd(34, 100, p) === 0, lit("Nameless_||_"))
        .otherwise(concat(seriesTitle(s), lit("_||_"), episodeMid(ep))).as("d_rm_content"),
      when(live, "livetvzender").otherwise("vod").as("d_rm_theme1"),
      when(rnd(35, 20, p) === 0, lit("00:00:01"))
        .otherwise(concat(seriesTitle(s), lit("_||_"),
          pick(36, Seq("NOS", "VPRO", "BNNVARA"), s), lit("_||_"),
          pick(37, Seq("podcast", "video"), p))).as("d_rm_theme2"),
      pick(38, Seq("web_||_1.0", "app_||_2.0", "tv_||_3.1"), p).as("d_rm_theme3")))
  }

  private def mapping: DataFrame =
    conform("live_stream_name_mapping_v1",
      liveChannels.map { case (n, id) => (id, n) }.toDF("channel_id", "channel"))

  private def vertaal: DataFrame = {
    val s = col("id")
    val target = (salt: Int) => (rnd(salt, 100000, s) + 100).cast("double")
    val titled = spark.range(sz.series).select(
      fmt("Titel %d", s).as("Naam"),
      pick(40, liveChannels.map(_._1), s).as("Net"),
      pick(41, Seq("NOS", "VPRO", "BNNVARA", "KRO-NCRV"), s).as("Omroep"),
      fmt("CCC%d", s).as("CCC"), seriesMid(s).as("Serie_mid"),
      fmt("Stream %d", s).as("Stream_Titel"), fmt("ati-%d", s).as("ATI_Titel"),
      (s + 100000).as("QL_FB_ID"), (s + 200000).as("QL_IG_ID"), (s + 300000).as("QL_YT_ID"),
      target(42).as("Target_AT_app"), target(43).as("Target_AT_site"),
      target(44).as("Target_FB_pagelikes"), target(45).as("Target_FB_reachperpost"),
      target(46).as("Target_IG_followers"), target(47).as("Target_IG_reachperpost"),
      target(48).as("Target_YT_subscribers"), target(49).as("Target_YT_views"))
    val untitled = Seq("SERX", "SERY").toDF("Serie_mid").select(
      lit(null).cast("string").as("Naam"), lit(null).cast("string").as("Net"),
      lit(null).cast("string").as("Omroep"), lit(null).cast("string").as("CCC"),
      col("Serie_mid"), lit(null).cast("string").as("Stream_Titel"),
      lit(null).cast("string").as("ATI_Titel"), lit(0L).as("QL_FB_ID"), lit(0L).as("QL_IG_ID"),
      lit(0L).as("QL_YT_ID"), lit(0.0).as("Target_AT_app"), lit(0.0).as("Target_AT_site"),
      lit(0.0).as("Target_FB_pagelikes"), lit(0.0).as("Target_FB_reachperpost"),
      lit(0.0).as("Target_IG_followers"), lit(0.0).as("Target_IG_reachperpost"),
      lit(0.0).as("Target_YT_subscribers"), lit(0.0).as("Target_YT_views"))
    conform("360_graden_rapportage_vertaaltabel_upload_20_21", titled.unionByName(untitled))
  }

  /** One row per series and reporting week (most weeks present). */
  private def perSeriesWeek(salt: Int): DataFrame =
    spark.range(sz.series).crossJoin(weeks)
      .where(rnd(salt, 10, col("id"), col("wk").cast("string")) =!= 0)

  private def youtube: DataFrame = {
    val base = perSeriesWeek(50)
    val k = Seq(col("id"), col("wk").cast("string"))
    val latest = base.select(col("id"), col("wk"), lit(0L).as("gen"))
    val older = base.where(rnd(51, 3, k: _*) === 0).select(col("id"), col("wk"), lit(1L).as("gen"))
    val kg = k :+ col("gen")
    conform("src_quintly_youtube_v1", latest.unionByName(older).select(
      (col("id") + 300000).as("profileId"), col("wk").cast("timestamp").as("intervalBegin"),
      rnd(52, 500000, kg: _*).as("totalSubscribers"), rnd(53, 2000, kg: _*).as("totalSubscribersChange"),
      rnd(54, 400, kg: _*).as("totalVideos"), rnd(55, 2000000, kg: _*).as("views"),
      rnd(56, 5000000, kg: _*).as("estimatedminuteswatched"),
      rnd(57, 80000, kg: _*).as("totalengagement"),
      (rnd(58, 180, kg: _*).cast("double") / 2).as("averageViewPercentage"),
      (rnd(59, 1200, kg: _*) + 30).cast("double").as("averageViewDuration"),
      when(col("gen") === 0, lit("2021-01-10")).otherwise(lit("2021-01-03")).cast("date")
        .as("partitionDate")))
  }

  private def facebook: DataFrame = {
    val k = Seq(col("id"), col("wk").cast("string"))
    conform("quintly_facebook_pages_weekly", perSeriesWeek(60).select(
      (col("id") + 100000).as("profileId"), col("wk").cast("timestamp").as("intervalBegin"),
      rnd(61, 900000, k: _*).as("fans"), rnd(62, 3000, k: _*).as("fansChange"),
      rnd(63, 40, k: _*).as("ownPosts"), rnd(64, 1000000, k: _*).as("pageImpressionsUnique"),
      rnd(65, 90000, k: _*).as("ownPostsEngagement")))
  }

  private def instagram: DataFrame = {
    val k = Seq(col("id"), col("wk").cast("string"))
    conform("quintly_instagram_pages_weekly", perSeriesWeek(70).select(
      (col("id") + 200000).as("profileId"), col("wk").cast("timestamp").as("intervalBegin"),
      rnd(71, 600000, k: _*).as("followers"), rnd(72, 3000, k: _*).as("followersChange"),
      rnd(73, 30, k: _*).as("posts"), rnd(74, 10, k: _*).as("postschange"),
      rnd(75, 800000, k: _*).as("reach"), rnd(76, 60000, k: _*).as("totalengagement")))
  }

  private def pages: DataFrame = {
    val plat = Seq("app", "site").toDF("platform")
    val k = Seq(col("id"), col("wk").cast("string"), col("platform"))
    conform("atinternet_smarttag_pages_weekly_v2", perSeriesWeek(80).crossJoin(plat).select(
      fmt("ati-%d", col("id")).as("level_2"), col("platform"), col("wk").as("weekdate"),
      weekofyear(col("wk")).as("weeknum"), expr("date_part('YEAROFWEEK', wk)").as("year"),
      rnd(81, 90000, k: _*).as("weekly_visitors"), rnd(82, 30000, k: _*).as("daily_visitors"),
      rnd(83, 120000, k: _*).as("visits")))
  }

  private def pagesProgrammes: DataFrame = {
    val k = Seq(col("id"), col("wk").cast("string"))
    conform("atinternet_smarttag_pages_programmes_weekly_v2", perSeriesWeek(90).select(
      fmt("ati-%d", col("id")).as("level_2"), pick(91, Seq("extra", "gemist"), k: _*)
        .as("programme"), lit("site").as("platform"), col("wk").as("weekdate"),
      weekofyear(col("wk")).as("weeknum"), expr("date_part('YEAROFWEEK', wk)").as("year"),
      rnd(92, 9000, k: _*).as("weekly_visitors"), rnd(93, 3000, k: _*).as("daily_visitors"),
      rnd(94, 12000, k: _*).as("visits")))
  }

  /** Fixture-key name → generated table. */
  def tables: Map[String, DataFrame] = Map(
    "audiovisual_metadata_poms_metadata_v1" -> poms,
    "advantedge_tv_viewer_density_per_show_daily_v1" -> advantedge,
    "media_events" -> mediaEvents,
    "live_stream_name_mapping_v1" -> mapping,
    "360_graden_rapportage_vertaaltabel_upload_20_21" -> vertaal,
    "src_quintly_youtube_v1" -> youtube,
    "quintly_facebook_pages_weekly" -> facebook,
    "quintly_instagram_pages_weekly" -> instagram,
    "atinternet_smarttag_pages_weekly_v2" -> pages,
    "atinternet_smarttag_pages_programmes_weekly_v2" -> pagesProgrammes,
    "dim_poms_episodes" -> dim)
}
