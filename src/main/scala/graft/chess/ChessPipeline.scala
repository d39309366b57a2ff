package graft.chess

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference ingestion pipeline (ingester.py) re-expressed as
  * declarative Spark transforms over the [[graft.sources.pgn]] source:
  * tag parsing/cleaning, per-player running statistics, and the
  * player-game-role doubling, producing the schema of SURVEY §3.
  *
  * Semantics faithfully mirror the reference with these documented
  * divergences:
  *  - ordering: the reference's running counters follow *file stream
  *    order* (ingester.py:139); here they follow `(DateTime, ID)` —
  *    a deterministic total order that agrees with stream order
  *    whenever the dump is time-sorted (lichess dumps are);
  *  - randomness: the reference draws `random()` per player / game
  *    (ingester.py:183,195); here the "random" numbers are stable
  *    uniform [0,1) hashes of the player name / game ID, so results
  *    are reproducible and identical across cluster sizes;
  *  - `Elo_max_faced`: the reference computes it from the player's OWN
  *    Elo, not the opponent's (ingester.py:210-218 reads
  *    `game_df[f"{player}Elo"]` in both blocks), making it equal to
  *    `Elo_max`. Replicated as-is for drop-in compatibility.
  *
  * Scale notes (SURVEY §4): one shuffle for the per-player windows
  * (partition key `name`, and `(name, Event)` — Spark coalesces the
  * finer partitioning into the same exchange), one shuffle to join
  * stats back on game ID, then the doubling is a narrow union of two
  * projections. Player skew (bots with millions of games) is handled
  * by AQE; the final range-sort mirrors the reference's
  * sort(DateTime, ID).
  */
object ChessPipeline {

  /** What [[ChessPipeline.parseGames]] keeps of the movetext — the
    * reference's `--include-moves` knob (ingester.py:24, 154-166)
    * plus a full-movetext superset:
    *  - [[MovesMode.Truncated]]: first 3 moves (split at "4."),
    *    `include_moves=True` in the reference (ingester.py:156-157).
    *    graft's default — the shape every EDA query expects.
    *  - [[MovesMode.Full]]: the entire movetext. The reference never
    *    keeps it (its True branch still truncates); kept here because
    *    a drop-in user asking for moves usually wants all of them.
    *  - [[MovesMode.Omitted]]: no Moves column, Evaluation_flag
    *    always false — `include_moves=False`, the REFERENCE default
    *    (ingester.py:158-159,164-166: moves = "" and the Moves key is
    *    never appended).
    */
  sealed trait MovesMode
  object MovesMode {
    case object Truncated extends MovesMode
    case object Full extends MovesMode
    case object Omitted extends MovesMode
  }

  private val ResultRev: Column = {
    val c = col("Result")
    when(c === "1-0", "0-1").when(c === "0-1", "1-0").otherwise(c)
  }

  /** Uniform [0,1) from a 53-bit slice of xxhash64 — the stable
    * stand-in for the reference's `random()`.
    */
  private def hashUniform(c: Column): Column =
    (pmod(xxhash64(c), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble))

  private def tag(name: String): Column = element_at(col("tags"), name)

  /** `?` is the PGN missing marker (ingester.py:334). */
  private def nullIfMissing(c: Column): Column = when(c =!= "?", c)

  private def eloInt(c: Column): Column =
    nullIfMissing(c).cast("int")

  private def ratingDiffInt(c: Column): Column =
    regexp_replace(nullIfMissing(c), "\\+", "").cast("int")

  /** (tags, movetext) rows → one typed row per game (ingester.py
    * tag handling + _ndjson_to_parquet's cleaning, minus the running
    * stats which need [[withStats]]).
    */
  def parseGames(raw: DataFrame,
      movesMode: MovesMode = MovesMode.Truncated): DataFrame = {
    val eventRaw = tag("Event")
    val tournament = eventRaw.contains("tournament")
    // ingester.py:149: event name = text before "tournament"
    val eventClean = when(tournament,
      trim(substring_index(eventRaw, "tournament", 1))).otherwise(eventRaw)
    // ingester.py:157: keep only the first 3 moves (split at "4.")
    val kept: Option[Column] = movesMode match {
      case MovesMode.Truncated => Some(substring_index(col("movetext"), "4.", 1))
      case MovesMode.Full => Some(col("movetext"))
      case MovesMode.Omitted => None
    }
    // the flag reads whatever is kept (the reference checks `"eval" in
    // moves` on its kept string too: truncated when True, "" when
    // False — so Omitted is constant-false, ingester.py:166)
    val evalFlag = kept.map(_.contains("eval")).getOrElse(lit(false))
    raw.select(
        Seq(
        regexp_replace(tag("Site"), "https://lichess\\.org/", "").as("ID"),
        nullIfMissing(eventClean).as("Event"),
        tournament.as("Tournament"),
        nullIfMissing(tag("ECO")).as("ECO"),
        nullIfMissing(tag("Opening")).as("Opening"),
        nullIfMissing(tag("TimeControl")).as("TimeControl"),
        nullIfMissing(tag("Termination")).as("Termination"),
        // try_to_timestamp: a malformed date in one of 100 TB of games
        // must become null, not kill the job (ANSI mode throws on
        // to_timestamp parse failures)
        try_to_timestamp(concat_ws(" ", tag("UTCDate"), tag("UTCTime")),
          lit("yyyy.MM.dd HH:mm:ss")).as("DateTime"),
        nullIfMissing(tag("Result")).as("Result")) ++
        kept.map(_.as("Moves")).toSeq ++
        Seq(
        evalFlag.as("Evaluation_flag"),
        tag("White").as("White"),
        tag("Black").as("Black"),
        eloInt(tag("WhiteElo")).as("WhiteElo"),
        eloInt(tag("BlackElo")).as("BlackElo"),
        nullIfMissing(tag("WhiteTitle")).as("WhiteTitle"),
        nullIfMissing(tag("BlackTitle")).as("BlackTitle"),
        ratingDiffInt(tag("WhiteRatingDiff")).as("WhiteRatingDiff"),
        ratingDiffInt(tag("BlackRatingDiff")).as("BlackRatingDiff")): _*)
      .withColumn("ID_random", hashUniform(col("ID")))
      .withColumn("White_random", hashUniform(col("White")))
      .withColumn("Black_random", hashUniform(col("Black")))
      .withColumn("WhiteTitle_flag", col("WhiteTitle").isNotNull)
      .withColumn("BlackTitle_flag", col("BlackTitle").isNotNull)
  }

  /** Per-player ingestion state after a batch: one row per
    * (name, Event) with games played and max Elo seen — the Spark
    * equivalent of the reference's cross-month cumulative-counter file
    * (`cum_files_{y}_{m}.json.zst`, ingester.py:60-86, 269-278).
    * Feed it to [[withStats]] as `prior` when ingesting month N+1
    * incrementally; a per-name total is derivable (sum over events).
    */
  def statsState(games: DataFrame, prior: Option[DataFrame] = None): DataFrame = {
    val long = games.select(
      explode(array(
        struct(col("White").as("name"), col("WhiteElo").as("elo"), col("Event")),
        struct(col("Black").as("name"), col("BlackElo").as("elo"), col("Event")))).as("p"))
      .select(col("p.name"), col("p.elo"), col("p.Event"))
    val batch = long.groupBy("name", "Event")
      .agg(count(lit(1)).as("n_games"),
        coalesce(max(col("elo")), lit(0)).cast("int").as("elo_max"))
    prior match {
      case None => batch
      case Some(p) =>
        // null-safe keys: a missing White/Black tag groups under a null
        // name (and '?' Events under null); plain === would leave the
        // two sides' null groups unmatched and emit duplicate rows
        batch.as("b").join(p.as("p"),
            col("b.name") <=> col("p.name") && col("b.Event") <=> col("p.Event"), "full_outer")
          .select(
            coalesce(col("b.name"), col("p.name")).as("name"),
            coalesce(col("b.Event"), col("p.Event")).as("Event"),
            (coalesce(col("b.n_games"), lit(0L)) + coalesce(col("p.n_games"), lit(0L))).as("n_games"),
            greatest(coalesce(col("b.elo_max"), lit(0)), coalesce(col("p.elo_max"), lit(0))).as("elo_max"))
    }
  }

  /** The direct running-stats formulation: one window partition per
    * player (and per (player, Event)). One shuffle, but a hot key (a
    * bot with 1e7 games) is one task — use [[runningStatsBucketed]]
    * when the player distribution is heavy-tailed.
    */
  private def runningStatsPlain(long: DataFrame): DataFrame = {
    val ord = Seq(col("DateTime"), col("ID"))
    val byName = Window.partitionBy("name").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byNameType = Window.partitionBy("name", "Event").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    long.select(col("ID"), col("role"), col("name"), col("Event"),
      count(lit(1)).over(byName).as("run_total"),
      count(lit(1)).over(byNameType).as("run_type"),
      // running max of own Elo within event type; 0 before any known
      // Elo (ingester.py:188 initializes the accumulator to 0)
      coalesce(max(col("elo")).over(byNameType), lit(0)).as("run_max"))
  }

  /** Skew-resistant two-phase running stats, same answer as
    * [[runningStatsPlain]] row-for-row: windows run per (name, MONTH)
    * — so the hottest task is one player-month, not one player-ever —
    * and a second, tiny window over each player's per-month aggregates
    * (#months rows per player, no skew possible) produces the
    * carry-in offsets: prior-month game counts are added to the local
    * running count, prior-month maxima folded into the local running
    * max. Correct because month(DateTime) is monotone in the
    * (DateTime, ID) order the counters follow (null DateTimes sort
    * first and share the null bucket; greatest() ignores nulls).
    */
  private def runningStatsBucketed(long: DataFrame): DataFrame = {
    // null DateTimes get a sentinel month that sorts before any real
    // data (they sort first in the plain order too) — a NULL bucket
    // would silently drop its rows at the equi-joins below
    val withBkt = long.withColumn("bkt",
      coalesce(date_trunc("month", col("DateTime")),
        to_timestamp(lit("0001-01-01"))))
    val ord = Seq(col("DateTime"), col("ID"))
    val localTotalW = Window.partitionBy("name", "bkt").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localTypeW = Window.partitionBy("name", "Event", "bkt").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withBkt.select(col("ID"), col("role"), col("name"),
      col("Event"), col("bkt"),
      count(lit(1)).over(localTotalW).as("loc_total"),
      count(lit(1)).over(localTypeW).as("loc_type"),
      max(col("elo")).over(localTypeW).as("loc_max"))
    // per-bucket aggregates, then exclusive-preceding offsets over the
    // (tiny) per-player month sequence
    val prevBkts = Window.partitionBy("name").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offTotal = withBkt.groupBy("name", "bkt")
      .agg(count(lit(1)).as("bkt_n"))
      .select(col("name"), col("bkt"),
        coalesce(sum(col("bkt_n")).over(prevBkts), lit(0L)).as("off_total"))
    val prevTypeBkts = Window.partitionBy("name", "Event").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offType = withBkt.groupBy("name", "Event", "bkt")
      .agg(count(lit(1)).as("bkt_n"), max(col("elo")).as("bkt_max"))
      .select(col("name"), col("Event"), col("bkt"),
        coalesce(sum(col("bkt_n")).over(prevTypeBkts), lit(0L)).as("off_type"),
        max(col("bkt_max")).over(prevTypeBkts).as("off_max"))
    // null-safe (<=>) key matching: name is null when the White/Black
    // tag is missing, Event when it was '?'. The window formulation
    // keeps null partition keys as their own group, so the offset
    // joins must match them too — plain === would silently drop every
    // such row (each null group aggregates to exactly one offset row,
    // so <=> stays a 1:1 equi-join and hash-joins normally). bkt is
    // never null (sentinel above).
    local.as("l")
      .join(offTotal.as("ot"),
        col("l.name") <=> col("ot.name") && col("l.bkt") === col("ot.bkt"))
      .join(offType.as("oy"),
        col("l.name") <=> col("oy.name") && col("l.Event") <=> col("oy.Event") &&
          col("l.bkt") === col("oy.bkt"))
      .select(col("l.ID").as("ID"), col("l.role").as("role"),
        col("l.name").as("name"), col("l.Event").as("Event"),
        (col("loc_total") + col("off_total")).as("run_total"),
        (col("loc_type") + col("off_type")).as("run_type"),
        coalesce(greatest(col("loc_max"), col("off_max")), lit(0)).as("run_max"))
  }

  /** Adds the running per-player statistics (ingester.py:172-218):
    * cumulative game counts (total + per event type) and running max
    * Elo, per role. Long-form explode → windows over (name[, Event])
    * → join back on (ID, role).
    *
    * `prior` (a [[statsState]] table from earlier batches) offsets the
    * counters so month-by-month ingestion produces exactly the same
    * numbers as one job over the full range — the reference's
    * cumulative-file carry-over, minus the single-threaded dict.
    *
    * `bucketed = true` selects the skew-resistant two-phase window
    * formulation ([[runningStatsBucketed]]) — identical output,
    * bounded task size under hot players.
    */
  def withStats(games: DataFrame, prior: Option[DataFrame] = None,
      bucketed: Boolean = false): DataFrame = {
    val long = games.select(col("ID"), col("DateTime"), col("Event"),
      explode(array(
        struct(lit("White").as("role"), col("White").as("name"), col("WhiteElo").as("elo")),
        struct(lit("Black").as("role"), col("Black").as("name"), col("BlackElo").as("elo")))).as("p"))
      .select(col("ID"), col("DateTime"), col("Event"),
        col("p.role"), col("p.name"), col("p.elo"))
    val statsRaw = if (bucketed) runningStatsBucketed(long) else runningStatsPlain(long)
    val stats = prior match {
      case None =>
        statsRaw.select(col("ID"), col("role"),
          col("run_total").cast("int").as("cum_games_total"),
          col("run_type").cast("int").as("cum_games_type"),
          col("run_max").cast("int").as("elo_max"),
          // reference bug replicated: max Elo FACED also reads the
          // player's own Elo (ingester.py:210-218) => equal to elo_max
          col("run_max").cast("int").as("elo_max_faced"))
      case Some(p) =>
        // plain (non-broadcast) joins: at 100 TB the prior state spans
        // every player ever seen — co-partitioned shuffle join on name,
        // AQE may still broadcast when it is actually small
        val perName = p.groupBy("name").agg(sum(col("n_games")).as("p_total"))
        // null-safe joins for the same reason as the bucketed offsets:
        // prior state for the null-name / null-Event groups must still
        // offset this batch's null-keyed rows
        statsRaw.as("s")
          .join(perName.as("pn"), col("s.name") <=> col("pn.name"), "left")
          .join(p.select(col("name").as("pt_name"), col("Event").as("pt_event"),
            col("n_games").as("p_type"), col("elo_max").as("p_max")),
            col("s.name") <=> col("pt_name") && col("s.Event") <=> col("pt_event"), "left")
          .select(col("s.ID").as("ID"), col("s.role").as("role"),
            (col("run_total") + coalesce(col("p_total"), lit(0L))).cast("int").as("cum_games_total"),
            (col("run_type") + coalesce(col("p_type"), lit(0L))).cast("int").as("cum_games_type"),
            greatest(col("run_max"), coalesce(col("p_max"), lit(0))).cast("int").as("elo_max"),
            greatest(col("run_max"), coalesce(col("p_max"), lit(0))).cast("int").as("elo_max_faced"))
    }
    // Pivot the long-form stats to ONE row per game before joining:
    // a conditional agg on ID turns the (ID, role) pairs into
    // White_*/Black_* columns in a single pass. The earlier shape —
    // two role-filtered projections of `stats` joined separately —
    // re-executed the explode + window stage once per side (a
    // self-join over an unmaterialized subtree computes it twice),
    // doubling the dominant shuffle at scale. The pivot's groupBy
    // also leaves the data hash-partitioned by ID, so the join that
    // follows shuffles only the `games` side.
    def sideCol(role: String, src: String, out: String) =
      max(when(col("role") === role, col(src))).as(out)
    val wide = stats.groupBy("ID").agg(
      sideCol("White", "cum_games_total", "White_cum_games_total"),
      sideCol("White", "cum_games_type", "White_cum_games_type"),
      sideCol("White", "elo_max", "WhiteElo_max"),
      sideCol("White", "elo_max_faced", "WhiteElo_max_faced"),
      sideCol("Black", "cum_games_total", "Black_cum_games_total"),
      sideCol("Black", "cum_games_type", "Black_cum_games_type"),
      sideCol("Black", "elo_max", "BlackElo_max"),
      sideCol("Black", "elo_max_faced", "BlackElo_max_faced"))
    games.join(wide, "ID")
  }

  // "Moves" is filtered against the actual schema: MovesMode.Omitted
  // parses without it (the reference's include_moves=False parquet has
  // no Moves column either)
  private val gameColsAll = Seq("ID", "ID_random", "Event", "Tournament", "ECO",
    "Opening", "TimeControl", "Termination", "DateTime", "Moves", "Evaluation_flag")

  /** Player-game-role doubling (ingester.py:345-399): one row from
    * White's perspective, one from Black's with every paired column
    * swapped and the Result reversed. Narrow (union of projections).
    */
  def toPlayerGameRole(games: DataFrame): DataFrame = {
    val gameCols = gameColsAll.filter(games.columns.contains(_))
    def perspective(me: String, opp: String, role: String, result: Column): DataFrame =
      games.select(gameCols.map(col) ++ Seq(
        result.as("Result"),
        lit(role).as("Role_player"),
        col(me).as("Player"),
        col(opp).as("Opponent"),
        col(s"${me}Elo").as("PlayerElo"),
        col(s"${opp}Elo").as("OpponentElo"),
        col(s"${me}Elo_max").as("PlayerElo_max"),
        col(s"${opp}Elo_max").as("OpponentElo_max"),
        col(s"${me}Elo_max_faced").as("PlayerElo_max_faced"),
        col(s"${opp}Elo_max_faced").as("OpponentElo_max_faced"),
        col(s"${me}Title").as("PlayerTitle"),
        col(s"${opp}Title").as("OpponentTitle"),
        col(s"${me}Title_flag").as("PlayerTitle_flag"),
        col(s"${opp}Title_flag").as("OpponentTitle_flag"),
        col(s"${me}RatingDiff").as("PlayerRatingDiff"),
        col(s"${opp}RatingDiff").as("OpponentRatingDiff"),
        col(s"${me}_random").as("Player_random"),
        col(s"${opp}_random").as("Opponent_random"),
        col(s"${me}_cum_games_total").as("Player_cum_games_total"),
        col(s"${opp}_cum_games_total").as("Opponent_cum_games_total"),
        col(s"${me}_cum_games_type").as("Player_cum_games_type"),
        col(s"${opp}_cum_games_type").as("Opponent_cum_games_type")): _*)
    perspective("White", "Black", "White", col("Result"))
      .unionByName(perspective("Black", "White", "Black", ResultRev))
      .withColumn("PlayerElo_bin", graft.functions.binLabel(col("PlayerElo"), 200))
      // reference final sort (ingester.py:404); Role desc keeps the
      // White row first within a game like merge_sorted does
      .orderBy(col("DateTime"), col("ID"), col("Role_player").desc)
  }

  /** Full pipeline: raw PGN rows → player-game-role table. `prior` is
    * the [[statsState]] of previously-ingested batches (incremental
    * month-by-month ingestion, cf. ingest_lichess.py's cumulative
    * files).
    */
  def fromPgn(raw: DataFrame, prior: Option[DataFrame] = None,
      movesMode: MovesMode = MovesMode.Truncated): DataFrame =
    toPlayerGameRole(withStats(parseGames(raw, movesMode), prior))

  /** Sorted, partitioned parquet sink (ingester.py's batched monthly
    * output re-expressed): partition directories by month, sort within
    * tasks by (DateTime, ID) so downstream time-range scans prune
    * files and read locally-sorted data.
    *
    * Scale shape: `repartitionByRange(year_month, DateTime, ID)` — NOT
    * `repartition(year_month)`, which hashes every row of a month into
    * ONE shuffle partition, making one task write one month (~hundreds
    * of GB at 100 TB) and turning the sort into a single-task external
    * sort. Range partitioning keys that EXTEND the directory key keep
    * every task's rows inside (at most two adjacent) months — so
    * `partitionBy` still routes rows to the right directory and each
    * task writes at most two files — while a big month fans out over
    * many tasks, each sorting only its time slice. Files stay
    * time-clustered: task k's file covers a contiguous (DateTime, ID)
    * range within its month.
    *
    * `numFiles` bounds the task count (None = let
    * spark.sql.shuffle.partitions decide — at cluster scale size it so
    * each task writes ~128 MB–1 GB).
    */
  /** `extraPartitionCols`: additional partition key(s) UNDER
    * year_month — the streaming ingest passes its batch id so that
    * dynamic overwrite stays idempotent per batch without letting a
    * later batch of the SAME month replace an earlier one's rows
    * (a month split across two micro-batches must accumulate, not
    * clobber). Constant within a batch, so the range partitioning
    * and in-task sort below are unaffected.
    */
  /** `compression`: parquet codec for the sink. Default snappy (the
    * Spark default: cheapest to decompress, the right trade at query
    * time); the reference writes gzip (ingester.py:418-421
    * `pq.ParquetWriter(..., compression="gzip")`) — pass "gzip" for
    * byte-level storage parity when archive size beats scan speed.
    */
  def writePartitioned(df: DataFrame, outDir: String,
      numFiles: Option[Int] = None,
      extraPartitionCols: Seq[String] = Nil,
      compression: String = "snappy"): Unit =
    partitionedForWrite(df, numFiles)
      .write.mode("overwrite")
      .option("compression", compression)
      // DYNAMIC partition overwrite: only the partitions present in
      // THIS batch are replaced — a month-by-month incremental ingest
      // (IngestMain range runs) appends new months without clobbering
      // earlier ones, and re-running a crashed month is idempotent
      // (its partitions are replaced, not doubled). The batch CLI
      // assumes dumps are month-aligned, which lichess's are: the
      // month-M dump holds exactly games played in M; the streaming
      // path drops that assumption via `extraPartitionCols`.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(("year_month" +: extraPartitionCols): _*)
      .parquet(outDir)

  /** The pre-write plan of [[writePartitioned]], exposed so PlanSpec
    * can assert the exchange is range (not single-partition hash) and
    * specs can count output tasks.
    */
  private[graft] def partitionedForWrite(df: DataFrame,
      numFiles: Option[Int] = None): DataFrame = {
    val keyed = df.withColumn("year_month",
      date_format(col("DateTime"), "yyyy_MM"))
    val ranged = numFiles match {
      case Some(n) => keyed.repartitionByRange(n,
        col("year_month"), col("DateTime"), col("ID"))
      case None => keyed.repartitionByRange(
        col("year_month"), col("DateTime"), col("ID"))
    }
    // in-task order: year_month first so the (<= 2) months a boundary
    // task holds are written as two internally-sorted files
    ranged.sortWithinPartitions("year_month", "DateTime", "ID")
  }
}
