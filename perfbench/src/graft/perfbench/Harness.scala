package graft.perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Benchmark harness, run in one warm JVM per benchmark run.
  *
  *   Harness run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *               --data DIR --min-ops K --games-per-month G --months M --budget S
  *   Harness gen --seed N --out DIR --games-per-month G
  *
  * `run` sets up (inputs three times, then a warm-up op), then runs ops of
  * the workload back to back — a closed loop with one client — and prints
  * one `PERFBENCH {json}` record per set-up and per op on stdout. With
  * `--trace 1` it cycles an untraced op, an op with the listeners
  * attached, and a layer-by-layer replay under spans, and writes the
  * spans to `DIR/spans.jsonl`. `perfbench/run.py` turns the records into
  * metrics. `gen` writes only the monthly dumps, for the generator tests.
  */
final class Harness(val cpus: Int, val gamesPerMonth: Int, val months: Int,
    val work: File, val dataDir: File) {
  def stagingDir: String = sys.env.getOrElse("GRAFT_STAGING_DIR",
    throw new IllegalStateException("GRAFT_STAGING_DIR is not set"))
}

object Harness {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  /** Untimed ops before the measured ones: the first op of a fresh JVM
    * takes about 1.5x as long as the next. More would not fit the run
    * budget.
    */
  private val WarmupOps = 1
  private val Listeners = Seq(
    "spark.extraListeners" -> classOf[SchedulerProbe].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanProbe].getName)

  def emit(kind: String, kv: (String, Any)*): Unit = {
    System.out.println("PERFBENCH " + Json.obj(("kind" -> kind) +: kv: _*))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen") =>
        val d = Gen.write(opt("seed").toLong, Workloads.dumpConfig(
          opt("games-per-month").toInt, opt("months").toInt), new File(opt("out")))
        emit("gen", "games" -> d.totalGames, "bytes" -> d.inputBytes, "raw_bytes" -> d.rawBytes,
          "files" -> d.files.map(f => Map("name" -> f.getName, "sha256" -> sha256(f))))
      case Some("run") => run(opt)
      case _ => throw new IllegalArgumentException("usage: Harness run|gen --key value ...")
    }
  }

  private def run(opt: Map[String, String]): Unit = {
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val minOps = opt("min-ops").toInt
    val budget = opt("budget").toDouble
    val h = new Harness(sys.env("SPARK_GRAFT_CPUS").toInt, opt("games-per-month").toInt,
      opt("months").toInt, new File(opt("work")), new File(opt("data")))
    val w = Workloads(opt("workload"), h)
    val seed = opt("seed").toLong

    // set-up: inputs three times (median reported), then whatever the op
    // reads besides them, then warm-up
    val reps = (0 until 3).map { i =>
      val dir = new File(h.work, s"input$i")
      val t0 = System.nanoTime()
      val files = w.prepare(seed, dir)
      ((System.nanoTime() - t0) / 1e9, dir, files.map(sha256))
    }
    val deterministic = reps.map(_._3).distinct.size == 1
    reps.drop(1).foreach(r => delete(r._2))
    val t1 = System.nanoTime()
    w.adopt(reps.head._2)
    val adopt = (System.nanoTime() - t1) / 1e9
    emit("input", "rows" -> w.rows, "bytes" -> w.inputBytes)

    var opId = 0
    val spans = new Spans
    def op(phase: String): Unit = {
      opId += 1
      emit("op", ("phase" -> phase) +: runOp(h, w, phase, opId, spans): _*)
    }
    val t2 = System.nanoTime()
    (1 to WarmupOps).foreach(_ => op("warmup"))
    emit("setup", "input_s" -> reps.map(_._1), "adopt_s" -> adopt,
      "warmup_s" -> (System.nanoTime() - t2) / 1e9, "warmup_ops" -> WarmupOps,
      "deterministic" -> deterministic)

    val t3 = System.nanoTime()
    def measured = (System.nanoTime() - t3) / 1e9
    val phases = if (trace) Seq("plain", "listen", "traced") else Seq("measure")
    var n = 0
    while ((measured < seconds || n < minOps) && elapsed < budget) {
      op(phases(phaseAt(n, phases.size))); n += 1
    }
    if (trace) spans.writeTo(new File(h.work, "spans.jsonl"))
  }

  /** Phase of the `n`th measured op: cycle `c` runs every phase once,
    * starting at phase `c % k`, so JIT drift across a run does not favour
    * the phase that always runs last.
    */
  def phaseAt(n: Int, k: Int): Int = (n + n / k) % k

  /** One op of `phase`, timed; its output checked and deleted after the
    * clock stops. Returns the record fields.
    */
  private def runOp(h: Harness, w: Workload, phase: String, opId: Int,
      spans: Spans): Seq[(String, Any)] = {
    val out = new File(h.work, "op")
    delete(out)
    out.mkdirs()
    val listen = phase == "listen" || phase == "traced"
    if (listen) Listeners.foreach { case (k, v) => System.setProperty(k, v) }
    Counters.resetWindow()
    val c0 = Counters.snap()
    val gc0 = gcSeconds
    val cpu0 = cpuBean.getProcessCpuTime
    val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val buf = new ByteArrayOutputStream()
    var replay = Replay(Map.empty, "")
    val failure = try {
      Console.withOut(new PrintStream(buf, true, "UTF-8")) {
        if (phase == "traced") replay = spans(opId, "op")(w.traced(out, spans, opId))._1
        else w.op(out)
      }
      None
    } catch { case e: Throwable => Some(e.toString) }
    val untimed = replay.layers.getOrElse(Workloads.Untimed, 0.0)
    val layers = replay.layers - Workloads.Untimed
    val wall = (System.nanoTime() - t0) / 1e9 - untimed
    val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    val e1 = System.currentTimeMillis()
    val gc = gcSeconds - gc0
    val jit = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3
    // a main that threw may leave its session behind; never reuse it
    org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.stop())
    if (listen) Listeners.foreach { case (k, _) => System.clearProperty(k) }
    val spark = Counters.snap() - c0
    val printed = if (phase == "traced") replay.printed else buf.toString("UTF-8")
    val why = failure.orElse(
      try w.check(out, printed, phase == "traced") catch { case e: Throwable => Some(s"check failed: $e") })
    val bytes = w.outBytes(out, printed)
    delete(out)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    why.foreach(r => System.err.println(s"[perfbench] op $opId ($phase) failed: $r"))
    Seq("wall_s" -> wall, "cpu_s" -> cpu, "heap_mb" -> heap, "gc_s" -> gc,
      "jit_s" -> jit, "ok" -> why.isEmpty, "why" -> why.getOrElse(""), "out_bytes" -> bytes,
      "untimed_s" -> untimed) ++
      (if (listen) Seq("spark" -> spark.toMap,
        "session_start_s" -> (if (Counters.appStart > 0) (Counters.appStart - e0) / 1e3 else 0.0),
        "driver_gap_s" -> math.max(0.0, wall - Counters.jobCoveredMs(e0, e1) / 1e3))
      else Nil) ++
      (if (phase == "traced") Seq("layers" -> layers) else Nil)
  }

  // ---- output checks ----

  def checkIngest(sink: File, state: File, d: Gen.Dumps): Option[String] = {
    val conf = new Configuration()
    val rows = files(sink).filter(_.getName.endsWith(".parquet")).groupBy(
      _.getParentFile.getName.stripPrefix("year_month=")).map { case (ym, fs) =>
      ym -> fs.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
    val want = d.gamesPerMonth.map { case (ym, n) => ym -> 2 * n }
    val fs = new Path(state.toString).getFileSystem(conf)
    val applied = graft.chess.StateSwap.resolve(fs, state.toString)
      .map(graft.chess.StateSwap.appliedIds(fs, _)).getOrElse(Set.empty[Long])
    val wantApplied = d.months.map { case (y, m) => y.toLong * 12 + (m - 1) }.toSet
    if (rows != want) Some(s"rows per month ${rows.toSeq.sorted} != 2 x games ${want.toSeq.sorted}")
    else if (applied != wantApplied) Some(s"state applied ${applied.toSeq.sorted} != ${wantApplied.toSeq.sorted}")
    else None
  }

  /** HyperLogLog++ at Spark's default 5% relative standard deviation: an
    * estimate within three deviations of the exact count passes.
    */
  private val HllBound = 0.15

  def checkEda(out: File, a: Gen.EdaAnswers): Option[String] = {
    def csv(name: String): Seq[Seq[String]] = {
      val part = files(new File(out, s"$name.csv")).filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      require(part.size == 1, s"$name: expected one CSV part, found ${part.size}")
      Files.readAllLines(part.head.toPath, StandardCharsets.UTF_8).asScala.toSeq
        .drop(1).map(parseCsvLine)
    }
    def same(got: Seq[Seq[String]], want: Seq[Seq[String]]): Boolean =
      got.size == want.size && got.zip(want).forall { case (g, w) =>
        g.size == w.size && g.zip(w).forall { case (x, y) =>
          x == y || (x.contains('.') && y.contains('.') &&
            math.abs(x.toDouble - y.toDouble) <= 1e-12)
        }
      }
    val bad = a.datasets.toSeq.sortBy(_._1).collectFirst {
      case (name, want) if !same(csv(name), want) =>
        s"$name: got ${csv(name).take(3)}..., want ${want.take(3)}..."
    }
    bad.orElse {
      val Seq(Seq(w, b)) = csv("chess_approx_players")
      def off(est: String, exact: Long) = math.abs(est.toLong - exact) > HllBound * exact
      if (off(w, a.distinctWhite) || off(b, a.distinctBlack))
        Some(s"chess_approx_players ($w, $b) outside ${HllBound * 100}% of (${a.distinctWhite}, ${a.distinctBlack})")
      else {
        val pngs = Seq("gamecount_plot", "highcount_plot", "opening_plot")
          .filterNot(n => new File(out, s"img/$n.png").length > 0)
        if (pngs.nonEmpty) Some(s"charts missing: ${pngs.mkString(", ")}") else None
      }
    }
  }

  /** One line of Spark's CSV writer: `"`-quoted fields, `\` escapes. */
  def parseCsvLine(line: String): Seq[String] = {
    val settings = new com.univocity.parsers.csv.CsvParserSettings()
    settings.getFormat.setQuoteEscape('\\')
    settings.setNullValue("")
    settings.setEmptyValue("")
    new com.univocity.parsers.csv.CsvParser(settings).parseLine(line).toSeq
  }

  /** The `{"k":n,...}` line Pipeline prints (the last such line). */
  def parseCounts(printed: String): Map[String, Long] =
    printed.linesIterator.map(_.trim).filter(_.startsWith("{")).toSeq.lastOption
      .map(Json.parseLongs).getOrElse(Map.empty)

  def render(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  // ---- files ----

  def files(dir: File): Seq[File] =
    Option(dir.listFiles).map(_.toSeq).getOrElse(Nil).flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  /** Bytes of the visible files under `dir` (no `.crc` side files). */
  def du(dir: File, skip: Set[String] = Set.empty): Long =
    Option(dir.listFiles).map(_.toSeq).getOrElse(Nil)
      .filterNot(f => f.getName.startsWith(".") || skip(f.getName))
      .map(f => if (f.isDirectory) du(f) else f.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def sha256(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(f.toPath)).map(b => f"$b%02x").mkString
  }
}
