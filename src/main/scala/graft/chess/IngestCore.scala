package graft.chess

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The ONE incremental-ingest core both drivers share: parsed games →
  * running stats with prior-state carry → role doubling → partitioned sink, then the crash-safe state
  * commit carrying the applied-work-id set ([[StateSwap.Applied]]).
  *
  * [[IngestMain]] (batch CLI, one call per grouped pass of months) and
  * [[StreamIngest]] (continuous foreachBatch) used to each spell this
  * sequence out; any drift between the two copies — commit ordering,
  * the applied-id carry, the cache window — would silently fork their
  * exactly-once semantics, which is precisely the failure the shared
  * core exists to rule out.
  */
private[chess] object IngestCore {

  def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The work-unit ids folded into the committed state (none without
    * a state dir or a committed copy).
    */
  def appliedIds(spark: SparkSession, stateDir: Option[String]): Set[Long] =
    stateDir.flatMap { d =>
      val fs = fsFor(spark, d)
      StateSwap.resolve(fs, d).map(StateSwap.appliedIds(fs, _))
    }.getOrElse(Set.empty)

  /** Run one parsed-games batch through the core. Returns false (a
    * no-op) when every id of `appliedIds` is already in the committed
    * state's applied set — the replay / crashed-rerun guard; true when
    * the batch was applied. `appliedIds` are the work units the batch
    * holds (the months of a grouped [[IngestMain]] pass, or one
    * stream batch id), in order; they commit together, atomically with
    * the counters. A batch whose ids are only partly applied is
    * refused: applying it would count the applied part twice.
    *
    * `extraPartition` appends sink partition key(s) UNDER year_month
    * (the streaming driver passes its batch id so dynamic overwrite
    * replays idempotently without a later same-month batch clobbering
    * an earlier one's rows).
    */
  def applyGames(spark: SparkSession, games: DataFrame, outDir: String,
      stateDir: Option[String], appliedIds: Seq[Long] = Nil,
      extraPartition: Seq[(String, Column)] = Nil,
      compression: String = "snappy",
      calendarCarry: Boolean = false): Boolean = {
    val curState = stateDir.flatMap { d =>
      // StateSwap.resolve recovers the committed copy after a crash at
      // any point of a previous run's commit
      StateSwap.resolve(fsFor(spark, d), d)
    }
    val applied = (for (d <- stateDir; p <- curState)
      yield StateSwap.appliedIds(fsFor(spark, d), p)).getOrElse(Set.empty[Long])
    val done = appliedIds.filter(applied.contains)
    if (appliedIds.nonEmpty && done.size == appliedIds.size)
      return false // already fully applied and committed
    require(done.isEmpty, s"work units ${done.mkString(",")} are already " +
      s"applied but ${appliedIds.filterNot(applied.contains).mkString(",")} " +
      "are not: apply only the missing ones")
    // calendarCarry = the reference's calendar-keyed counter restart
    // (ingester.py:60-86: prior counters come from the
    // calendar-PREVIOUS month's state file; absent => restart): when
    // the first work unit's predecessor id was never applied, drop
    // the prior COUNTERS but keep the applied-id set (idempotence is
    // not a reference semantics knob). Later units of the batch carry
    // from the earlier ones: IngestMain.groups starts a new batch at
    // every unit that would restart.
    val restart = calendarCarry &&
      appliedIds.headOption.exists(id => !applied.contains(id - 1))
    val prior =
      if (restart) None
      else curState.map(p => spark.read.parquet(p.toString))
    // parsed once: the sink and the state aggregation both consume
    // `games` — uncached, each would re-run the full decompress+parse
    // (the dominant cost of an ingest)
    val g = games.cache()
    try {
      val doubled = extraPartition.foldLeft(
        ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(g, prior))) {
        case (df, (name, value)) => df.withColumn(name, value)
      }
      ChessPipeline.writePartitioned(doubled, outDir,
        extraPartitionCols = extraPartition.map(_._1),
        compression = compression)
      stateDir.foreach { d =>
        // stage the updated state (counters + carried applied-id set),
        // then run the crash-safe three-step swap (see StateSwap: a
        // crash at any point leaves a committed copy that resolve()
        // finds on the next run)
        val next = s"$d/${StateSwap.Next}"
        ChessPipeline.statsState(g, prior)
          .write.mode("overwrite").parquet(next)
        val fs = fsFor(spark, d)
        StateSwap.writeApplied(fs, new Path(next), applied ++ appliedIds)
        StateSwap.commit(fs, d)
      }
      true
    } finally g.unpersist()
  }
}
