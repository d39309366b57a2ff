package graft.chess

import org.apache.spark.sql.SparkSession

/** Batch ingestion driver — the Spark equivalent of the reference's
  * ingest_lichess.py CLI: PGN in, month-partitioned player-game-role
  * parquet out, with resumable per-player state for incremental runs.
  *
  * Usage:
  *   runMain graft.chess.IngestMain <pgnPath> <outDir> [stateDir]
  *   runMain graft.chess.IngestMain --month=YYYY-MM <outDir> [stateDir]
  *   runMain graft.chess.IngestMain --start=YYYY-MM --end=YYYY-MM <outDir> [stateDir]
  *
  * `--month`: the monthly lichess dump is staged via
  * [[Acquire.fetchMonth]] (the reference's give-me-a-month entry
  * point, ingest_lichess.py:9-27) into `GRAFT_STAGING_DIR` (default
  * /tmp/graft_staging), honoring `GRAFT_DUMP_BASE_URL` as a mirror /
  * `file://` override, and the staged `.pgn.zst` is ingested.
  *
  * `--include-moves`: the reference CLI's flag (ingest_lichess.py:34,
  * default False): without it no Moves column is written
  * (`MovesMode.Omitted`, the reference default); with it the first 3
  * moves are kept (`MovesMode.Truncated` — the reference's True also
  * truncates). `ChessPipeline.parseGames`'s own default stays
  * Truncated for library callers (SURVEY A3 documents the
  * divergence); the CLI matches the reference exactly.
  *
  * `--dir-ndjson=DIR`: the reference CLI's debug knob
  * (ingest_lichess.py:37): additionally dump the parsed games as
  * JSON lines (one subdir per input; each input of a grouped pass is
  * read and dumped on its own). Debug output only — the
  * reference uses ndjson as its parser's internal spill format, which
  * a columnar pipeline has no equivalent of. `--ndjson-size=N`
  * (ingest_lichess.py:38, default unset here = one dump) rolls the
  * dump every N games in parse order, the reference's spill-roll
  * knob (`_roll=K` subdirectories; content identical to unrolled).
  *
  * `--start`/`--end`: the reference's RANGE entry point
  * (ingest_lichess.py:18-27 loops `range(start, end)` years × a month
  * list; flags at :31-33) — every month in the inclusive [start, end]
  * month range is fetched and ingested, with the per-player counters
  * carried month to month exactly as the reference's in-process loop
  * carries them (its `cum_files_{y}_{m}` state, ingester.py:60-86).
  * `--months=M1,M2,...` keeps only those months-of-year within the
  * range (the reference's explicit month list — "Januaries of
  * 2015-2020" is not a contiguous range). Divergences, documented:
  * the range here is month-granular and end-INCLUSIVE (the reference
  * takes year endpoints, end-exclusive) — the same ranges are
  * expressible, without the surprise of `--end`'s year never being
  * processed. Under a sparse `--months` subset the reference silently
  * RESTARTS the per-player counters each month: its state file is
  * keyed by the calendar-PREVIOUS month (`cum_files_{y}_{m-1}`,
  * ingester.py:60-86), which a subset never wrote, so its
  * FileNotFoundError fallback recreates empty counters; here the
  * committed state carries across the months actually ingested, in
  * order — cumulative over the ingested sequence, which is what the
  * counters are for. (The reference's `restart_counter_games`
  * parameter is dead code: defined at ingest_lichess.py:9 with
  * default True, never forwarded.) `--calendar-counters` (round 12)
  * opts into the reference's byte-for-byte calendar-keyed behavior: a
  * month whose CALENDAR predecessor is not in the committed applied
  * set restarts its counters from zero — replaying "Januaries of
  * 2015-2020" then matches the reference exactly.
  *
  * '''Grouped passes.''' The months left to do (the `--months` filter
  * applied, the months already in the committed applied set dropped)
  * run as a few passes of several months each ([[groups]]), not one
  * pass per month. A pass fetches its months, reads all of them with
  * one PGN scan, and runs ONE parse → running stats → role doubling →
  * sink → state commit over them ([[IngestCore.applyGames]]). A
  * compressed month is one scan partition, so a pass holds at most
  * `defaultParallelism` months — one scan task per core — and pays the
  * per-pass fixed cost (planning, the range-sink sampling job, the
  * state write and swap) once for all of them. Under
  * `--calendar-counters` a new pass starts at every month whose
  * counters restart. `--month` and a plain `<pgnPath>` are one-element
  * passes of the same code.
  *
  * Exactness: the running counters follow `(DateTime, ID)` order and
  * the prior state offsets every game of a pass alike. When the dumps
  * are month-aligned (the month-M dump holds exactly the games played
  * in M — lichess's are, and the dynamic-overwrite sink already
  * assumes it), every game of an earlier month of a pass sorts before
  * every game of a later one, so a grouped pass yields the same
  * counters, sink rows and state as chained one-month passes. The same
  * holds across a gap — a middle month committed earlier is in the
  * prior state either way. A pass's month ids commit atomically WITH
  * its counters; a crash mid-pass leaves none of them committed, the
  * re-run repeats the whole pass, and dynamic partition overwrite
  * makes the re-written months idempotent.
  *
  * Scale note: at cluster width one pass spans every month of a range,
  * so a hot player's window partition covers the whole pass, not one
  * month, and the pass caches the parse of all its months. The
  * bucketed running-stats formulation ([[ChessPipeline.withStats]]
  * `bucketed = true`) bounds the window per player-month; it is not
  * selected here.
  *
  * `--compression=CODEC`: parquet codec for the monthly sink. Default
  * snappy (decode speed); `--compression=gzip` reproduces the
  * reference's pyarrow writer setting (ingester.py:418-421,
  * `compression="gzip"` for Apache Drill compatibility) when a
  * consumer needs byte-level codec parity.
  *
  * `--debug`: the reference's verbosity knob (ingest_lichess.py:35,
  * logging.DEBUG vs INFO) — here it raises the Spark log level from
  * WARN to INFO (Spark's own DEBUG floods with executor internals a
  * pipeline operator never wants; INFO is the faithful "show me
  * per-job progress" level).
  *
  * If no `stateDir` is given, the carry
  * still happens through a run-local state dir; pass one to make the
  * range resumable across invocations too: months recorded in the
  * committed state's applied-id set ([[StateSwap.Applied]]) are
  * SKIPPED on a re-run (the reference's "exists. Skipping" check,
  * ingest_lichess.py:24-26, keyed on the state commit so a crashed
  * range resumes without double-applying committed months' games to
  * the counters — re-ingesting a month from scratch means clearing
  * the state dir and the sink together).
  *
  * With `stateDir`: reads the prior [[ChessPipeline.statsState]] table
  * if present (counters continue across runs exactly as the
  * reference's `cum_files_{y}_{m}.json.zst` carry-over,
  * ingester.py:60-86), and writes the updated state back. Without it,
  * one job over the full input range gives identical numbers — the
  * windows span everything.
  */
object IngestMain {

  private val MonthArg = """--month=(\d{4})-(\d{2})""".r
  private val StartArg = """--start=(\d{4})-(\d{2})""".r
  private val EndArg = """--end=(\d{4})-(\d{2})""".r
  private val MovesFlag = "--include-moves"
  private val DebugFlag = "--debug"
  private val CalendarFlag = "--calendar-counters"
  private val NdjsonArg = """--dir-ndjson=(.+)""".r
  private val NdjsonSizeArg = """--ndjson-size=(\d+)""".r
  private val MonthsArg = """--months=(\d{1,2}(?:,\d{1,2})*)""".r
  private val CompressionArg = """--compression=([a-z0-9]+)""".r

  private val Usage =
    "usage: IngestMain [--include-moves] [--debug] [--dir-ndjson=DIR] [--ndjson-size=N] [--compression=CODEC] <pgnPath|--month=YYYY-MM> <outDir> [stateDir]\n" +
      "   or: IngestMain [--include-moves] [--debug] [--dir-ndjson=DIR] [--ndjson-size=N] [--compression=CODEC] [--months=M1,M2,...] --start=YYYY-MM --end=YYYY-MM <outDir> [stateDir]"

  /** The reference CLI's month-subset flag (ingest_lichess.py:31-33
    * loops `range(start, end)` years × an explicit month LIST): with
    * `--months=1,3` a range keeps only Januaries and Marches — a shape
    * a contiguous month range cannot express. Returns None when the
    * flag is absent (= all months).
    */
  private def monthSubset(rawArgs: Array[String]): Option[Set[Int]] =
    rawArgs.collectFirst { case MonthsArg(ms) =>
      val set = ms.split(",").map(_.toInt).toSet
      require(set.forall(m => m >= 1 && m <= 12),
        s"--months out of range: ${set.filterNot(m => m >= 1 && m <= 12).mkString(",")}")
      set
    }

  /** Inclusive month range (y1, m1) .. (y2, m2) in chronological
    * order, as the month index y*12 + (m-1) back-projected.
    */
  private[chess] def monthRange(y1: Int, m1: Int, y2: Int, m2: Int): Seq[(Int, Int)] = {
    require(m1 >= 1 && m1 <= 12 && m2 >= 1 && m2 <= 12,
      s"month out of range: $m1 / $m2")
    val a = y1 * 12 + (m1 - 1)
    val b = y2 * 12 + (m2 - 1)
    require(a <= b, f"--start=$y1%04d-$m1%02d is after --end=$y2%04d-$m2%02d")
    (a to b).map(i => (i / 12, i % 12 + 1))
  }

  /** Usage/flag validation, shared by main (BEFORE paying Spark
    * startup) and run (for direct callers).
    */
  private def validateArgs(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    args(0) match {
      case StartArg(y1, m1) =>
        require(args.length >= 3, Usage)
        args(1) match {
          case EndArg(y2, m2) =>
            monthRange(y1.toInt, m1.toInt, y2.toInt, m2.toInt) // order check
          case p => throw new IllegalArgumentException(
            s"--start must be followed by --end=YYYY-MM, got '$p'")
        }
      case MonthArg(_, m) =>
        // \d{2} alone admits 00/13..99, and monthId would alias those
        // onto adjacent REAL months (2024-00 == 2023-12): a typo could
        // silently print "already applied. Skipping" instead of failing
        require(m.toInt >= 1 && m.toInt <= 12, s"month out of range: $m")
      case p if p.startsWith("--") =>
        // a malformed flag must not fall through to "open it as a
        // path" — that surfaces as a baffling Path-does-not-exist
        throw new IllegalArgumentException(
          s"unrecognized option '$p' (expected --month=YYYY-MM or --start/--end)")
      case _ => ()
    }
  }

  /** Positional args with the position-free flags removed — main and
    * run MUST share this, or a flag order main rejects would be one
    * run accepts.
    */
  private def stripFlags(args: Array[String]): Array[String] =
    args.filterNot(a => a == MovesFlag || a == DebugFlag ||
      a == CalendarFlag || NdjsonArg.matches(a) ||
      NdjsonSizeArg.matches(a) || MonthsArg.matches(a) ||
      CompressionArg.matches(a))

  def main(args: Array[String]): Unit = {
    validateArgs(stripFlags(args)) // fail usage errors before Spark startup
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the reference's --debug (logging.DEBUG vs INFO): raise Spark's
    // level to INFO (Spark DEBUG is executor-internals flood)
    spark.sparkContext.setLogLevel(
      if (args.contains(DebugFlag)) "INFO" else "WARN")
    try run(spark, args,
      stagingDir = sys.env.getOrElse("GRAFT_STAGING_DIR", "/tmp/graft_staging"),
      baseUrl = sys.env.get("GRAFT_DUMP_BASE_URL"))
    finally spark.stop()
  }

  /** The whole ingest on a caller-owned session (main wraps it; specs
    * drive it directly — the e2e path from `--month`/range staging
    * through the range-partitioned monthly sink).
    */
  def run(spark: SparkSession, rawArgs: Array[String],
      stagingDir: String, baseUrl: Option[String]): Unit = {
    // the reference CLI's --include-moves (ingest_lichess.py:34,
    // default False): absent => no Moves column (MovesMode.Omitted,
    // the reference default); present => first 3 moves
    // (MovesMode.Truncated, the reference's include_moves=True —
    // which also truncates, ingester.py:258-259). Position-free, like
    // argparse.
    val movesMode =
      if (rawArgs.contains(MovesFlag)) ChessPipeline.MovesMode.Truncated
      else ChessPipeline.MovesMode.Omitted
    // the reference's --dir-ndjson debug knob (ingest_lichess.py:37,
    // "only recommended for debugging"): also dump the PARSED GAMES
    // as JSON lines (see [[dumpNdjson]])
    val ndjsonDir = rawArgs.collectFirst { case NdjsonArg(d) => d }
    val ndjsonSize = rawArgs.collectFirst { case NdjsonSizeArg(n) => n.toLong }
    ndjsonSize.foreach(n => require(n >= 1, s"ndjson-size must be >= 1, got $n"))
    // the reference's IMPLICIT calendar-keyed counter carry
    // (ingester.py:60-86: prior counters load from the
    // calendar-PREVIOUS month's state file, cum_files_{y}_{m-1};
    // absent => FileNotFoundError fallback RESTARTS the counters —
    // which is what a sparse --months subset always hits). graft's
    // default carries state across the months actually ingested, in
    // order (SURVEY A14 documents why that is the defensible
    // semantics for cumulative counters); this flag opts into the
    // reference's byte-for-byte behavior for users replaying it
    // exactly: a month whose calendar predecessor was never applied
    // starts its counters from zero.
    val calendarCarry = rawArgs.contains(CalendarFlag)
    // parquet codec for the sink (reference parity knob: ingester.py
    // 418-421 writes gzip for Apache Drill compatibility; Spark's
    // default snappy is ~5x faster to write). Validity is checked by
    // the parquet writer itself - unknown codecs fail fast there.
    val compression = rawArgs.collectFirst {
      case CompressionArg(c) => c }.getOrElse("snappy")
    val subset = monthSubset(rawArgs)
    val args = stripFlags(rawArgs)
    validateArgs(args)
    require(subset.isEmpty || args(0).startsWith("--start"),
      "--months only applies to a --start/--end range")
    // one grouped pass: the ndjson debug dumps, then ONE scan of
    // every input and one run of the shared core, whose state commit
    // records `ids`
    def ingestGroup(inputs: Seq[String], ids: Seq[Long], outDir: String,
        stateDir: Option[String]): Unit = {
      ndjsonDir.foreach(d => inputs.foreach(dumpNdjson(spark, _, movesMode, d, ndjsonSize)))
      val raw = spark.read.format("pgn").load(inputs: _*)
      IngestCore.applyGames(spark, ChessPipeline.parseGames(raw, movesMode),
        outDir, stateDir, ids, compression = compression,
        calendarCarry = calendarCarry)
    }
    // months by id, in grouped passes. Already-applied months are
    // skipped BEFORE fetching (the reference's "exists. Skipping"
    // check, ingest_lichess.py:24-26, keyed on committed STATE rather
    // than output existence) — which is also what makes a crashed
    // range re-run safe: committed months are no-ops instead of
    // double-applying their games to the counters
    def ingestMonths(ids: Seq[Long], outDir: String, stateDir: Option[String]): Unit = {
      val applied = IngestCore.appliedIds(spark, stateDir)
      for (id <- ids if applied.contains(id))
        System.err.println(f"[ingest] ${id / 12}%04d-${id % 12 + 1}%02d already applied. Skipping...")
      for (group <- groups(ids, applied, spark.sparkContext.defaultParallelism, calendarCarry))
        ingestGroup(group.map(id => Acquire.fetchMonth((id / 12).toInt,
          (id % 12 + 1).toInt, stagingDir, baseUrl).toString), group, outDir, stateDir)
    }
    args(0) match {
      case StartArg(y1, m1) =>
        val EndArg(y2, m2) = (args(1): @unchecked)
        // the month-to-month counter carry is NOT optional for a
        // range (the reference's loop carries counters in one
        // process): without a caller-provided stateDir the carry
        // still runs through a run-local state dir
        val stateDir = args.lift(3).getOrElse(
          java.nio.file.Files.createTempDirectory("graft_range_state").toString)
        val ids = for ((y, m) <- monthRange(y1.toInt, m1.toInt, y2.toInt, m2.toInt)
            if subset.forall(_.contains(m))) yield monthId(y, m)
        ingestMonths(ids, args(2), Some(stateDir))
      case MonthArg(y, m) =>
        ingestMonths(Seq(monthId(y.toInt, m.toInt)), args(1), args.lift(2))
      case pgnPath =>
        // arbitrary-path inputs have no natural work-unit id: no skip
        ingestGroup(Seq(pgnPath), Nil, args(1), args.lift(2))
    }
  }

  private[chess] def monthId(y: Int, m: Int): Long = y.toLong * 12 + (m - 1)

  /** The grouped passes of a month-id list (ids as [[monthId]], in
    * chronological order): `todo` minus the `applied` months, split
    * into runs of at most `width` months. With `calendarCarry` a new
    * run also starts at every month whose calendar predecessor is
    * neither applied nor earlier in `todo` — the months whose counters
    * restart, which [[IngestCore.applyGames]] can only do at the head
    * of a pass.
    */
  private[chess] def groups(todo: Seq[Long], applied: Set[Long], width: Int,
      calendarCarry: Boolean): Seq[Seq[Long]] = {
    val left = todo.filterNot(applied.contains)
    val seen = applied ++ left
    def restarts(id: Long): Boolean = calendarCarry && !seen.contains(id - 1)
    left.foldLeft(Vector.empty[Vector[Long]]) {
      case (done :+ open, id) if open.size < width && !restarts(id) =>
        done :+ (open :+ id)
      case (done, id) => done :+ Vector(id)
    }
  }

  /** The `--dir-ndjson` debug dump of one input: its parsed games as
    * JSON lines — Spark's json sink IS ndjson — under
    * `dir/<input name>`. In the reference ndjson is the parser's
    * internal spill format; here the pipeline is columnar end to end,
    * so this is debug output only, read apart from the ingest's own
    * scan. `size` = Some(N) is the reference's `--ndjson-size` roll
    * knob (ingest_lichess.py:38, ingester.py:237-252: a new ndjson
    * file every N games): the dump rolls into `_roll=K`
    * subdirectories of N games each, content identical to the
    * unrolled dump (the roll only CUTS the same game sequence). The
    * game ordinal comes from zipWithIndex over the parse — the
    * input-split order, the columnar analog of the reference's
    * sequential file order.
    */
  private def dumpNdjson(spark: SparkSession, input: String,
      movesMode: ChessPipeline.MovesMode, dir: String, size: Option[Long]): Unit = {
    val g = ChessPipeline.parseGames(spark.read.format("pgn").load(input), movesMode)
    val out = s"$dir/${new org.apache.hadoop.fs.Path(input).getName}"
    size match {
      case Some(n) =>
        val rolled = spark.createDataFrame(
          g.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i / n) },
          g.schema.add("_roll", org.apache.spark.sql.types.LongType))
        rolled.write.mode("overwrite").partitionBy("_roll").json(out)
      case None =>
        g.write.mode("overwrite").json(out)
    }
  }
}
