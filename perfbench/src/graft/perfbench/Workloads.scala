package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chess.{Acquire, ChessPipeline, StateSwap}

/** A traced replay's seconds per layer metric, and the result line the
  * shipped main would have printed.
  */
final case class Replay(layers: Map[String, Double], printed: String)

/** One benchmark workload: an op is one call of a shipped main; `traced`
  * replays the same work through the layers' public functions under spans.
  */
trait Workload {
  /** Input rows of one op, and the bytes they occupy on disk. */
  def rows: Long
  def inputBytes: Long
  /** Generate this seed's inputs under `dir`; returns files whose bytes
    * must repeat for the same seed.
    */
  def prepare(seed: Long, dir: File): Seq[File]
  /** Make the op inputs from the prepared copy in `dir` (after set-up). */
  def adopt(dir: File): Unit
  /** One call of the shipped main writing under `out`. */
  def op(out: File): Unit
  /** The same op, layer by layer. */
  def traced(out: File, spans: Spans, opId: Int): Replay
  /** None when the op's output is right, else why not. */
  def check(out: File, printed: String, traced: Boolean): Option[String]
  /** Bytes the op leaves behind: files under `out` plus its printed result. */
  def outBytes(out: File, printed: String): Long =
    Harness.du(out, skip = Set("staging")) + printed.getBytes(StandardCharsets.UTF_8).length
}

object Workloads {
  /** Consecutive months from January 2024, one dump each. */
  def dumpConfig(gamesPerMonth: Int, months: Int): Gen.Config =
    Gen.Config((1 to months).map(m => (2024, m)), gamesPerMonth,
      tailPlayers = 30000, hotBots = 4, hotShare = 0.08)

  def apply(name: String, h: Harness): Workload = name match {
    case "ingest" => new Ingest(h)
    case "graph" => new Graph(h)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Materialize every column of `df` and discard it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The session config the shipped mains build (IngestMain sets only the
    * first four; Report and Pipeline add the planner settings).
    */
  def session(cpus: Int, planner: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (planner) b
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 131072L)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 1024L)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fs(dir: String) = new Path(dir).getFileSystem(new Configuration())

  /** Layer key for seconds a replay spends on work the shipped op does not
    * do; the harness takes them off the replay's wall time.
    */
  val Untimed = "untimed_s"

  /** Report's datasets and charts over an ingest sink, written as
    * `Report.run` writes them, one span each.
    */
  def reportLayers(h: Harness, sink: File, out: File, spans: Spans,
      opId: Int): Map[String, Double] = {
    val spark = session(h.cpus, planner = true)
    try {
      val games = graft.Report.gamesFromIngest(spark.read.parquet(sink.toString))
      val per = graft.Report.Datasets.map { case (name, query) =>
        val (_, t) = spans(opId, s"report.$name")(
          query(games).coalesce(1).write.mode("overwrite").option("header", "true")
            .csv(s"$out/$name.csv"))
        s"report.${name}_s" -> t
      }
      val (_, tCharts) = spans(opId, "report.charts")(graft.Report.charts(games, out.toString))
      per.toMap + ("report.charts_s" -> tCharts)
    } finally spark.stop()
  }

  // ---- ingest: IngestMain over a month range from a file:// mirror ----

  class Ingest(h: Harness) extends Workload {
    private var dumps: Gen.Dumps = _
    private var mirror: File = _
    def rows: Long = dumps.totalGames
    def inputBytes: Long = dumps.inputBytes
    def prepare(seed: Long, dir: File): Seq[File] = {
      dumps = Gen.write(seed, dumpConfig(h.gamesPerMonth, h.months), new File(dir, "mirror"))
      dumps.files
    }
    def adopt(dir: File): Unit = {
      mirror = new File(dir, "mirror")
      // IngestMain reads the mirror from the environment; without it, it
      // would fetch from the public dump host instead
      val env = sys.env.get("GRAFT_DUMP_BASE_URL")
      require(env.exists(u => u.startsWith("file:") &&
          new File(new java.net.URI(u)).getCanonicalFile == mirror.getCanonicalFile),
        s"GRAFT_DUMP_BASE_URL must be ${mirror.toURI}, is ${env.getOrElse("unset")}")
    }
    def op(out: File): Unit = {
      val (y, m) = dumps.months.last
      graft.chess.IngestMain.main(Array("--start=2024-01", f"--end=$y%04d-$m%02d",
        s"$out/sink", s"$out/state"))
    }

    def traced(out: File, spans: Spans, opId: Int): Replay = {
      val spark = session(h.cpus, planner = false)
      val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = acc(k) += v
      val sink = s"$out/sink"
      val state = s"$out/state"
      try for ((y, m) <- dumps.months) {
        val (staged, tAcq) = spans(opId, "chess.acquire")(
          Acquire.fetchMonth(y, m, h.stagingDir, Some(mirror.toURI.toString)))
        add("chess.acquire_s", tAcq)
        val raw = spark.read.format("pgn").load(staged.toString)
        val (_, tScan) = spans(opId, "pgn.scan")(noop(raw))
        add("pgn.scan_s", tScan)
        add("pgn.partitions", raw.rdd.getNumPartitions.toDouble)
        val g = ChessPipeline.parseGames(raw, ChessPipeline.MovesMode.Omitted).cache()
        try {
          val (_, tParse) = spans(opId, "chess.parse")(noop(g))
          add("chess.parse_s", math.max(0.0, tParse - tScan))
          val cur = StateSwap.resolve(fs(state), state)
          val applied = cur.map(StateSwap.appliedIds(fs(state), _)).getOrElse(Set.empty[Long])
          val prior = cur.map(p => spark.read.parquet(p.toString))
          val stats = ChessPipeline.withStats(g, prior)
          val (_, tStats) = spans(opId, "chess.stats")(noop(stats))
          add("chess.stats_s", tStats)
          val roles = ChessPipeline.toPlayerGameRole(stats)
          val (_, tRoles) = spans(opId, "chess.roles")(noop(roles))
          add("chess.roles_s", math.max(0.0, tRoles - tStats))
          val (_, tSink) = spans(opId, "chess.sink")(ChessPipeline.writePartitioned(roles, sink))
          add("chess.sink_s", math.max(0.0, tSink - tRoles))
          val (_, tState) = spans(opId, "chess.state") {
            val next = s"$state/${StateSwap.Next}"
            ChessPipeline.statsState(g, prior).write.mode("overwrite").parquet(next)
            StateSwap.writeApplied(fs(state), new Path(next), applied + (y.toLong * 12 + (m - 1)))
            StateSwap.commit(fs(state), state)
          }
          add("chess.state_s", tState)
        } finally g.unpersist()
      } finally spark.stop()
      val files = Harness.files(new File(sink)).filter(_.getName.endsWith(".parquet"))
      // the report's layers over the sink just written: read cost of the
      // sink layout, timed here because this is the workload that writes it
      val t0 = System.nanoTime()
      val report = reportLayers(h, new File(sink), new File(out, "report"), spans, opId)
      Replay(acc.toMap ++ report ++ Map("chess.sink_files" -> files.size.toDouble,
        "chess.sink_mb" -> files.map(_.length).sum / 1e6,
        Untimed -> (System.nanoTime() - t0) / 1e9), "")
    }

    /** The sink and state; a traced op also its report read-back. */
    def check(out: File, printed: String, traced: Boolean): Option[String] =
      Harness.checkIngest(new File(out, "sink"), new File(out, "state"), dumps).orElse(
        if (traced) Harness.checkEda(new File(out, "report"), dumps.eda) else None)
  }

  // ---- graph: Pipeline.main --graph over a seeded row permutation ----

  /** Pipeline counts on the committed base tables at the commit that added
    * the benchmark; a row permutation must not change them.
    */
  val GraphPinned: Map[String, Long] = Map("n_edges" -> 2500L, "n_clusters" -> 236L,
    "n_hubs" -> 23L, "n_misclassified" -> 435L, "n_outliers" -> 259L, "n_ranked" -> 500L)
  val CurationPinned: Map[String, Long] = Map("n_input" -> 500L, "n_kept" -> 171L,
    "n_ppl_kept" -> 115L, "n_mixture" -> 115L, "n_train" -> 100L, "n_val" -> 9L, "n_test" -> 6L)

  class Graph(h: Harness) extends Workload {
    private var inDir: File = _
    private var nRows = 0L
    private var nBytes = 0L
    def rows: Long = nRows
    def inputBytes: Long = nBytes
    /** One session serves all set-up repetitions; `adopt` stops it. */
    private lazy val prep = session(h.cpus, planner = false)

    /** Both base tables with their rows ordered by a hash of the seed and
      * the id: the op reads `embeddings`, the traced run's curation replay
      * `documents`.
      */
    def prepare(seed: Long, dir: File): Seq[File] = {
      def permute(table: String, idCol: String): File = {
        val path = new File(dir, s"$table.parquet")
        prep.read.parquet(new File(h.dataDir, s"$table.parquet").toString)
          .orderBy(xxhash64(lit(seed), col(idCol)), col(idCol)).coalesce(1)
          .write.mode("overwrite").parquet(path.toString)
        path
      }
      val tables = Seq(permute("embeddings", "vec_id"), permute("documents", "doc_id"))
      nRows = prep.read.parquet(tables.head.toString).count()
      nBytes = Harness.du(tables.head)
      tables.flatMap(t => Harness.files(t).filter(_.getName.startsWith("part-")))
    }
    def adopt(dir: File): Unit = { prep.stop(); inDir = dir }

    def op(out: File): Unit =
      graft.Pipeline.main(Array(inDir.toString, out.toString, "--graph"))

    /** The graph audit layer by layer, then Pipeline's curation chain over
      * the permuted `documents`. No op of the benchmark runs the curation
      * chain, so its time is left out of the replay's wall.
      */
    def traced(out: File, spans: Spans, opId: Int): Replay = {
      val spark = session(h.cpus, planner = true)
      try {
        val (layers, counts) = graphLayers(spark, spans, opId)
        graft.Caches.sweep(spark)
        val t0 = System.nanoTime()
        val (curation, curationCounts) = curationLayers(spark, new File(out, "curation"),
          spans, opId)
        Replay(layers ++ curation + (Untimed -> (System.nanoTime() - t0) / 1e9),
          Harness.render(counts ++ curationCounts))
      } finally { graft.Caches.sweep(spark); spark.stop() }
    }

    /** The op's counts; a traced op also prints the curation chain's. */
    def check(out: File, printed: String, traced: Boolean): Option[String] = {
      val want = if (traced) GraphPinned ++ CurationPinned else GraphPinned
      val got = Harness.parseCounts(printed)
      if (got == want) None
      else Some(s"counts ${Harness.render(got)} != pinned ${Harness.render(want)}")
    }

    private def graphLayers(spark: SparkSession, spans: Spans,
        opId: Int): (Map[String, Double], Map[String, Long]) = {
      import graft.ops.Similarity
      import graft.Lineage
      val sf = inDir.toString
      val emb = graft.Tables.load(spark, sf, "embeddings")
      val nodes = emb.select(col("vec_id"), col("embedding"))
      val labels = emb.select(col("vec_id"), col("label"))
      val built = Similarity.knnGraph(spark, sf)
      val (_, tKnn) = spans(opId, "ops.knn_graph")(noop(built))
      val (edges, tCut1) = spans(opId, "lineage.cut")(built.transform(Lineage.cut))
      val mutualFrame = Similarity.mutualEdges(edges, Similarity.MutualThreshold)
      val (_, tMutual) = spans(opId, "ops.mutual_edges")(noop(mutualFrame))
      val (mutual, tCut2) = spans(opId, "lineage.cut")(mutualFrame.transform(Lineage.cut))
      try {
        def rider(name: String)(frame: => DataFrame): (DataFrame, Double) =
          spans(opId, name) { val f = frame; noop(f); f }
        val (density, tDen) = rider("ops.knn_density")(Similarity.knnDensityOn(nodes, edges))
        val (classify, tCls) = rider("ops.knn_classify")(Similarity.knnClassifyOn(edges, labels))
        val (clusters, tClu) = rider("ops.semantic_clusters")(
          Similarity.semanticClustersOnMutual(nodes, mutual))
        val (hubs, tHub) = rider("ops.knn_hubness")(Similarity.knnHubnessOn(nodes, edges))
        val (ranked, tPr) = rider("ops.pagerank")(Similarity.pageRankOnMutual(nodes, mutual))
        val legs = Seq(
          "n_edges" -> edges.select(count(lit(1)).as("n")),
          "n_outliers" -> density.filter(col("outlier")).select(count(lit(1)).as("n")),
          "n_misclassified" -> classify.filter(!col("correct")).select(count(lit(1)).as("n")),
          "n_clusters" -> clusters.select(countDistinct(col("cluster")).as("n")),
          "n_hubs" -> hubs.filter(col("hub")).select(count(lit(1)).as("n")),
          "n_ranked" -> ranked.select(count(lit(1)).as("n")))
        val counts = legs.map { case (k, df) => df.select(lit(k).as("k"), col("n")) }
          .reduce(_.unionAll(_)).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (Map("ops.knn_graph_s" -> tKnn,
          "lineage.cut_s" -> (math.max(0.0, tCut1 - tKnn) + math.max(0.0, tCut2 - tMutual)),
          "ops.mutual_edges_s" -> tMutual, "ops.knn_density_s" -> tDen,
          "ops.knn_classify_s" -> tCls, "ops.semantic_clusters_s" -> tClu,
          "ops.knn_hubness_s" -> tHub, "ops.pagerank_s" -> tPr), counts)
      } finally { Lineage.free(mutual); Lineage.free(edges) }
    }

    /** `Pipeline.run`'s stages with its default budget: gate, perplexity
      * filter, mixture, grouped split, partitioned parquet sink. Each
      * stage's output is cached and materialized in its own span, so a
      * span holds that stage's work alone; the counts are the ones
      * `Pipeline` prints.
      */
    private def curationLayers(spark: SparkSession, out: File, spans: Spans,
        opId: Int): (Map[String, Double], Map[String, Long]) = {
      import graft.ops.{Sampling, TextOps}
      val sf = inDir.toString
      val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def stage(name: String)(frame: => DataFrame): (DataFrame, Double) =
        spans(opId, name) { val f = frame.cache(); cached += f; noop(f); f }
      try {
        val docs = graft.Tables.load(spark, sf, "documents")
        val (gated, tGate) = stage("ops.curation_gate") {
          val kept = TextOps.curationGate(spark, sf).filter(col("keep")).select("doc_id")
          docs.join(kept, Seq("doc_id"), "left_semi")
        }
        val (headMid, tPpl) = stage("ops.ppl_filter") {
          val tail = TextOps.textPplBucketsOn(gated)
            .filter(col("bucket") === "tail").select("doc_id")
          gated.join(tail, Seq("doc_id"), "left_anti")
        }
        val (mixed, tMix) = stage("ops.mixture") {
          val picked = Sampling.sampleMixtureOn(
            headMid.select(col("doc_id"), col("source"), col("text")), 10000L).select("doc_id")
          headMid.join(picked, Seq("doc_id"), "left_semi")
        }
        val (corpus, tSplit) = stage("ops.split") {
          mixed.join(Sampling.sampleSplitGrouped(spark, sf)
            .select(col("doc_id"), col("split")), Seq("doc_id"))
        }
        val (_, tSink) = spans(opId, "pipeline.sink")(
          corpus.write.mode("overwrite").partitionBy("split").parquet(s"$out/corpus"))
        val bySplit = spark.read.parquet(s"$out/corpus").groupBy("split").count().collect()
          .map(r => s"n_${r.getString(0)}" -> r.getLong(1)).toMap
        (Map("ops.curation_gate_s" -> tGate, "ops.ppl_filter_s" -> tPpl,
          "ops.mixture_s" -> tMix, "ops.split_s" -> tSplit, "pipeline.sink_s" -> tSink),
          Map("n_input" -> docs.count(), "n_kept" -> gated.count(),
            "n_ppl_kept" -> headMid.count(), "n_mixture" -> mixed.count()) ++ bySplit)
      } finally cached.foreach(_.unpersist())
    }
  }
}
