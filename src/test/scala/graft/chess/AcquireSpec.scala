package graft.chess

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Acquisition layer: URL scheme parity with the reference, atomic
  * staging, idempotent skip, and the give-me-a-month ingest end to
  * end. Driven over `file://` mirrors — this environment has no
  * network egress, and the transport is the same JDK stream either
  * way.
  */
class AcquireSpec extends graft.SparkSpec {

  test("monthly dump URL matches the reference's scheme") {
    // ingester.py:89-90
    assert(Acquire.monthlyDumpUrl(2024, 3) ===
      "https://database.lichess.org/standard/lichess_db_standard_rated_2024-03.pgn.zst")
    assert(Acquire.monthlyDumpName(2013, 11) ===
      "lichess_db_standard_rated_2013-11.pgn.zst")
  }

  test("fetchMonth stages from a file:// mirror, then skips when present") {
    // build a local "mirror" holding a zstd month dump
    val mirror = Files.createTempDirectory("lichess_mirror")
    val name = Acquire.monthlyDumpName(2024, 1)
    val payload = PgnFixtures.zstd(Files.readAllBytes(
      Paths.get(SamplePgn.ensureWritten(), "games_00.pgn")))
    Files.write(mirror.resolve(name), payload)

    val staging = Files.createTempDirectory("graft_staging").toString
    val staged = Acquire.fetchMonth(2024, 1, staging,
      baseUrl = Some(mirror.toUri.toString))
    assert(staged.getName === name)
    val stagedLocal = Paths.get(staged.toUri)
    assert(Files.readAllBytes(stagedLocal).toSeq === payload.toSeq)
    // no leftover temp, and a second fetch short-circuits (mtime
    // unchanged even though the mirror could have been deleted)
    assert(Files.list(Paths.get(staging)).toArray.toSeq
      .map(_.toString).forall(!_.contains(".inprogress")))
    val mtime = Files.getLastModifiedTime(stagedLocal)
    Files.delete(mirror.resolve(name))
    val again = Acquire.fetchMonth(2024, 1, staging,
      baseUrl = Some(mirror.toUri.toString))
    assert(again === staged)
    assert(Files.getLastModifiedTime(stagedLocal) === mtime)
  }

  test("staging through an explicit Hadoop FileSystem URI (the object-store seam)") {
    // `file:` exercises the same code path an `s3a://`/`hdfs://`
    // staging dir hits: Path.getFileSystem + fs.create/rename/exists,
    // never java.nio — the reference threads s3fs through exactly this
    // seam (ingester.py:71-81, 415-424)
    val mirror = Files.createTempDirectory("lichess_mirror_fs")
    val name = Acquire.monthlyDumpName(2024, 2)
    val body = PgnFixtures.gameTxt(7, "2024.02.03", sitePrefix = "fsuri")
    PgnFixtures.writeDump(mirror, 2024, 2, body.getBytes("UTF-8"))

    val stagingLocal = Files.createTempDirectory("graft_staging_uri")
    val stagingUri = "file:" + stagingLocal.toString
    val staged = Acquire.fetchMonth(2024, 2, stagingUri,
      baseUrl = Some(mirror.toUri.toString))
    assert(staged.toUri.getScheme === "file")
    assert(staged.getName === name)
    assert(Files.exists(stagingLocal.resolve(name)))
    // hidden-staging invisibility survives the FileSystem route: a
    // stale crashed temp next to the complete dump must be invisible
    // to the PGN planner reading the same staging dir
    Files.write(stagingLocal.resolve("." + name + ".inprogress.crashed"),
      Array[Byte](1, 2, 3))
    val games = spark.read.format("pgn").load(stagingUri)
    assert(games.count() === 1) // the complete dump only, temp pruned
  }

  test("--month ingest runs end to end from a file:// mirror") {
    // mirror holding March 2024 as a zstd dump of 50 sample games
    val mirror = Files.createTempDirectory("lichess_mirror_e2e")
    val name = Acquire.monthlyDumpName(2024, 3)
    PgnFixtures.writeDump(mirror, 2024, 3, Files.readAllBytes(
      Paths.get(SamplePgn.ensureWritten(), "games_01.pgn")))

    val staging = Files.createTempDirectory("staging_e2e").toString
    val out = Files.createTempDirectory("ingest_e2e").toString
    IngestMain.run(spark, Array("--month=2024-03", out),
      stagingDir = staging, baseUrl = Some(mirror.toUri.toString))
    // staged file landed under the reference's name…
    assert(Files.exists(Paths.get(staging, name)))
    // …and the sink holds the doubled player-game-role rows,
    // month-partitioned
    val back = spark.read.parquet(out)
    assert(back.count() === 100) // 50 games x 2 roles
    assert(back.select("year_month").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("2024_01")) // sample UTCDate month
  }

  test("range ingest equals chained single-month runs, counters carried") {
    // three month dumps with DIFFERENT game months and a shared player:
    // alice is White in every game, so her cumulative counts prove (or
    // disprove) the carry from month to month
    def gameTxt(i: Int, date: String, time: String): String =
      PgnFixtures.gameTxt(i, date, time, sitePrefix = "range")
    val mirror = Files.createTempDirectory("lichess_mirror_range")
    for ((m, games) <- Seq(
        3 -> Seq(gameTxt(1, "2024.03.05", "10:00:00"), gameTxt(2, "2024.03.20", "11:00:00")),
        4 -> Seq(gameTxt(3, "2024.04.02", "09:00:00"), gameTxt(4, "2024.04.25", "12:00:00")),
        5 -> Seq(gameTxt(5, "2024.05.01", "08:00:00"), gameTxt(6, "2024.05.30", "23:00:00"))))
      PgnFixtures.writeDump(mirror, 2024, m, games.mkString("\n").getBytes("UTF-8"))
    val base = Some(mirror.toUri.toString)
    /** (sink, state) after running each argument list in turn. */
    def ingest(runs: Seq[String]*): (String, String) = {
      val out = Files.createTempDirectory("range_out").toString
      val state = Files.createTempDirectory("range_state").toString
      val staging = Files.createTempDirectory("range_staging").toString
      for (a <- runs) IngestMain.run(spark, (a :+ out :+ state).toArray, staging, base)
      (out, state)
    }
    val range = Seq("--start=2024-03", "--end=2024-05")
    def month(m: Int) = Seq(f"--month=2024-$m%02d")

    def rows(dir: String) = {
      val df = spark.read.parquet(dir)
      df.orderBy("ID", "Role_player")
        .collect().map(_.toSeq.map(String.valueOf)).toSeq
    }
    def committed(d: String) = {
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val p = StateSwap.resolve(fs, d).get
      (spark.read.parquet(p.toString).orderBy("name", "Event")
        .collect().map(_.toSeq.map(String.valueOf)).toSeq,
        StateSwap.appliedIds(fs, p))
    }
    def maxCum(out: String, ym: String): Int = spark.read.parquet(out)
      .filter(col("Player") === "alice" && col("year_month") === ym)
      .agg(max(col("Player_cum_games_total"))).head().getInt(0)
    val allIds = Seq(3, 4, 5).map(IngestMain.monthId(2024, _)).toSet

    // a fresh range (one grouped pass over all three months), and the
    // same range after April was committed by a --month run (one pass
    // over March and May, around the committed middle month), each
    // against single-month runs in the same order
    for ((grouped, chained) <- Seq(
        (Seq(range), Seq(month(3), month(4), month(5))),
        (Seq(month(4), range), Seq(month(4), month(3), month(5))))) {
      val (outA, stateA) = ingest(grouped: _*)
      val (outB, stateB) = ingest(chained: _*)
      val a = rows(outA)
      assert(a.length === 12) // 6 games x 2 roles
      assert(a === rows(outB))
      // every month survived in the sink (dynamic partition overwrite:
      // no pass clobbers another's partitions)
      assert(spark.read.parquet(outA).select("year_month").distinct()
        .collect().map(_.getString(0)).sorted.toSeq ===
        Seq("2024_03", "2024_04", "2024_05"))
      // the carry is non-vacuous: alice's count in her last May game
      // is 6 (2 games in each month), not 2
      assert(maxCum(outA, "2024_05") === 6)
      // the state tables and the committed month ids agree
      assert(committed(stateA) === committed(stateB))
      assert(committed(stateA)._2 === allIds)
    }
  }

  test("--months keeps only the listed months-of-year within a range") {
    // the reference's explicit month list (ingest_lichess.py:31-33):
    // "only Decembers and Februaries" is not a contiguous range
    val mirror = Files.createTempDirectory("months_mirror")
    for ((y, m, d) <- Seq((2023, 12, "2023.12.05"), (2024, 1, "2024.01.05"),
        (2024, 2, "2024.02.05"), (2024, 3, "2024.03.05")))
      PgnFixtures.writeDump(mirror, y, m,
        PgnFixtures.gameTxt(y * 100 + m, d, sitePrefix = "ms").getBytes("UTF-8"))
    val out = Files.createTempDirectory("months_out").toString
    val staging = Files.createTempDirectory("months_staging").toString
    IngestMain.run(spark,
      Array("--months=12,2", "--start=2023-12", "--end=2024-03", out),
      staging, Some(mirror.toUri.toString))
    // only 2023-12 and 2024-02 were fetched and ingested
    assert(spark.read.parquet(out).select("year_month").distinct().collect()
      .map(_.getString(0)).toSet === Set("2023_12", "2024_02"))
    assert(!Files.exists(Paths.get(staging, Acquire.monthlyDumpName(2024, 1))))
    assert(!Files.exists(Paths.get(staging, Acquire.monthlyDumpName(2024, 3))))
    // a month outside 1..12 fails loudly, not silently-empty
    val e = intercept[IllegalArgumentException] {
      IngestMain.run(spark,
        Array("--months=0,13", "--start=2024-01", "--end=2024-02", out),
        staging, Some(mirror.toUri.toString))
    }
    assert(e.getMessage.contains("--months out of range"))
  }

  test("--calendar-counters: a sparse subset restarts counters like the reference") {
    // the reference keys prior counters by the CALENDAR-previous
    // month's state file (ingester.py:60-86) — a sparse --months
    // subset never wrote it, so every subset month restarts from
    // zero. Default graft semantics carry across the ingested
    // sequence; the flag opts into reference parity.
    val mirror = Files.createTempDirectory("cal_mirror")
    for ((y, m, d) <- Seq((2023, 12, "2023.12.05"), (2024, 2, "2024.02.05")))
      PgnFixtures.writeDump(mirror, y, m,
        PgnFixtures.gameTxt(y * 100 + m, d, sitePrefix = "cal").getBytes("UTF-8"))
    def maxCum(out: String, ym: String): Int =
      spark.read.parquet(out)
        .filter(col("year_month") === ym && col("Player") === "alice")
        .agg(max(col("Player_cum_games_total"))).head().getInt(0)

    // default: December's game carries into February's counter (2)
    val outSeq = Files.createTempDirectory("cal_seq_out").toString
    IngestMain.run(spark,
      Array("--months=12,2", "--start=2023-12", "--end=2024-02", outSeq,
        Files.createTempDirectory("cal_seq_state").toString),
      Files.createTempDirectory("cal_seq_staging").toString,
      Some(mirror.toUri.toString))
    assert(maxCum(outSeq, "2024_02") === 2)

    // --calendar-counters: January was never applied, so February
    // restarts at 1 — the reference's byte-for-byte behavior
    val outCal = Files.createTempDirectory("cal_cal_out").toString
    IngestMain.run(spark,
      Array("--calendar-counters", "--months=12,2",
        "--start=2023-12", "--end=2024-02", outCal,
        Files.createTempDirectory("cal_cal_state").toString),
      Files.createTempDirectory("cal_cal_staging").toString,
      Some(mirror.toUri.toString))
    assert(maxCum(outCal, "2024_02") === 1)
    // December itself is identical either way
    assert(maxCum(outCal, "2023_12") === maxCum(outSeq, "2023_12"))

    // contiguous months still carry WITH the flag (the predecessor
    // is in the applied set)
    val mirror2 = Files.createTempDirectory("cal_mirror2")
    for ((y, m, d) <- Seq((2024, 3, "2024.03.05"), (2024, 4, "2024.04.05")))
      PgnFixtures.writeDump(mirror2, y, m,
        PgnFixtures.gameTxt(y * 100 + m, d, sitePrefix = "cal2").getBytes("UTF-8"))
    val outCont = Files.createTempDirectory("cal_cont_out").toString
    IngestMain.run(spark,
      Array("--calendar-counters", "--start=2024-03", "--end=2024-04", outCont,
        Files.createTempDirectory("cal_cont_state").toString),
      Files.createTempDirectory("cal_cont_staging").toString,
      Some(mirror2.toUri.toString))
    assert(maxCum(outCont, "2024_04") === 2)
  }

  test("re-running a month after state loss overwrites the sink, never doubles it") {
    // the OTHER crash window: sink written, state commit lost (or the
    // operator cleared the state dir but not the sink). The re-run
    // must replace the month's partitions via dynamic overwrite — a
    // doubled sink here would be silent data corruption
    val mirror = Files.createTempDirectory("stateloss_mirror")
    PgnFixtures.writeDump(mirror, 2024, 3,
      (1 to 2).map(i => PgnFixtures.gameTxt(i, s"2024.03.0$i", sitePrefix = "sl"))
        .mkString("\n").getBytes("UTF-8"))
    val out = Files.createTempDirectory("stateloss_out").toString
    val staging = Files.createTempDirectory("stateloss_staging").toString
    def runWithFreshState(): Unit = IngestMain.run(spark,
      Array("--month=2024-03", out,
        Files.createTempDirectory("stateloss_state").toString),
      staging, Some(mirror.toUri.toString))
    runWithFreshState()
    runWithFreshState() // fresh state dir = the applied-id skip cannot fire
    val df = spark.read.parquet(out)
    assert(df.count() === 4, "2 games x 2 roles, once — not doubled")
  }

  test("--month rejects out-of-range months instead of aliasing them") {
    // monthId is y*12 + (m-1), so 2024-00 would alias to 2023-12 and
    // 2024-13 to 2025-01 — a typo must fail, not silently "skip"
    for (bad <- Seq("2024-00", "2024-13")) {
      val e = intercept[IllegalArgumentException] {
        IngestMain.run(spark, Array(s"--month=$bad", "/tmp/never_written"),
          "/tmp", None)
      }
      assert(e.getMessage.contains("month out of range"), s"for $bad")
    }
  }

  test("re-running a range skips committed months — no double counting") {
    val mirror = Files.createTempDirectory("resume_mirror")
    val dump = (1 to 2).map(i =>
      PgnFixtures.gameTxt(i, s"2024.03.0$i", sitePrefix = "resume"))
      .mkString("\n")
    PgnFixtures.writeDump(mirror, 2024, 3, dump.getBytes("UTF-8"))

    val out = Files.createTempDirectory("resume_out").toString
    val state = Files.createTempDirectory("resume_state").toString
    val staging = Files.createTempDirectory("resume_staging").toString
    val args = Array("--start=2024-03", "--end=2024-03", out, state)
    IngestMain.run(spark, args, staging, Some(mirror.toUri.toString))
    // the re-run a user issues after a crash later in a longer range:
    // the committed month must be a no-op, not a double-apply
    IngestMain.run(spark, args, staging, Some(mirror.toUri.toString))
    val df = spark.read.parquet(out)
    assert(df.count() === 4) // 2 games x 2 roles, once
    assert(df.filter(col("Player") === "alice")
      .agg(max(col("Player_cum_games_total"))).head().getInt(0) === 2)
  }

  test("--include-moves matches the reference CLI: absent drops Moves, present truncates") {
    val src = SamplePgn.ensureWritten()
    val staging = Files.createTempDirectory("moves_staging").toString
    // default = reference include_moves=False: NO Moves column
    val out1 = Files.createTempDirectory("moves_off").toString
    IngestMain.run(spark, Array(src, out1), staging, None)
    assert(!spark.read.parquet(out1).columns.contains("Moves"))
    // flag = reference True: Moves present AND truncated at move 4;
    // --dir-ndjson dumps the parsed games as JSON lines alongside
    val out2 = Files.createTempDirectory("moves_on").toString
    val nd = Files.createTempDirectory("ndjson_dbg").toString
    IngestMain.run(spark,
      Array("--include-moves", s"--dir-ndjson=$nd", src, out2), staging, None)
    val withMoves = spark.read.parquet(out2)
    assert(withMoves.columns.contains("Moves"))
    val moves = withMoves.select("Moves").collect().map(_.getString(0))
    assert(moves.nonEmpty && moves.forall(m => m.nonEmpty && !m.contains("4.")))
    // the ndjson debug dump holds every parsed GAME (pre-doubling) as
    // one JSON object per line
    val back = spark.read.json(s"$nd/*")
    assert(back.count() === withMoves.count() / 2)
    assert(back.columns.contains("Moves"))
  }

  test("--ndjson-size rolls the debug dump every N games, content unchanged") {
    val src = SamplePgn.ensureWritten()
    val staging = Files.createTempDirectory("roll_staging").toString
    // unrolled reference dump
    val outA = Files.createTempDirectory("roll_outA").toString
    val ndA = Files.createTempDirectory("roll_ndA").toString
    IngestMain.run(spark,
      Array(s"--dir-ndjson=$ndA", src, outA), staging, None)
    val flat = spark.read.json(s"$ndA/*")
    val nGames = flat.count()
    assert(nGames >= 2, "sample must have >= 2 games to roll")
    // rolled at N=1: one _roll subdir per game (the reference's
    // every-N-games spill roll, ingest_lichess.py:38)
    val outB = Files.createTempDirectory("roll_outB").toString
    val ndB = Files.createTempDirectory("roll_ndB").toString
    IngestMain.run(spark,
      Array(s"--dir-ndjson=$ndB", "--ndjson-size=1", src, outB), staging, None)
    val rolled = spark.read.json(s"$ndB/*")
    assert(rolled.columns.contains("_roll"))
    // the partition dir value reads back as an inferred INT — normalize
    val rolls = rolled.select(col("_roll").cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rolls === (0L until nGames)) // N=1 -> one roll per game
    // the roll only CUTS the sequence: same games, same fields
    val key = flat.columns.sorted.toSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(key.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rowsOf(rolled.drop("_roll")) === rowsOf(flat))
    // and each roll holds exactly one game
    assert(rolled.groupBy("_roll").count()
      .agg(max(col("count"))).head().getLong(0) === 1L)
  }

  test("--dir-ndjson over a range dumps each month as two --month runs do") {
    val mirror = Files.createTempDirectory("ndjson_range_mirror")
    for (m <- Seq(3, 4))
      PgnFixtures.writeDump(mirror, 2024, m, (1 to 2).map(i =>
        PgnFixtures.gameTxt(m * 10 + i, f"2024.$m%02d.0$i", sitePrefix = "ndr"))
        .mkString("\n").getBytes("UTF-8"))
    val base = Some(mirror.toUri.toString)
    def dump(runs: Seq[String]*): String = {
      val nd = Files.createTempDirectory("ndjson_range").toString
      val out = Files.createTempDirectory("ndjson_range_out").toString
      val staging = Files.createTempDirectory("ndjson_range_staging").toString
      for (a <- runs)
        IngestMain.run(spark, (s"--dir-ndjson=$nd" +: a :+ out).toArray, staging, base)
      nd
    }
    val ranged = dump(Seq("--start=2024-03", "--end=2024-04"))
    val chained = dump(Seq("--month=2024-03"), Seq("--month=2024-04"))
    // one subdir per staged dump, named after it
    def subdirs(nd: String) = Files.list(Paths.get(nd)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).sorted
    val names = Seq(3, 4).map(Acquire.monthlyDumpName(2024, _))
    assert(subdirs(ranged) === names)
    assert(subdirs(chained) === names)
    for (n <- names) {
      def rowsOf(nd: String) = {
        val df = spark.read.json(s"$nd/$n")
        df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
      }
      val r = rowsOf(ranged)
      assert(r.length === 2, n)
      assert(r === rowsOf(chained), n)
    }
  }

  test("a failed fetch leaves no trusted file behind") {
    val staging = Files.createTempDirectory("graft_staging2").toString
    val missing = Files.createTempDirectory("empty_mirror")
    intercept[java.io.IOException] {
      Acquire.fetchMonth(2024, 2, staging, baseUrl = Some(missing.toUri.toString))
    }
    assert(!Files.exists(Paths.get(staging, Acquire.monthlyDumpName(2024, 2))))
  }
}
