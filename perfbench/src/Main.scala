package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Bench, HostProbe}
import graft.extract.{Extractor, HtmlDom, HtmlExtractor, PayloadSniffer, PdfSpans}
import graft.fixtures.TranscriptGen
import graft.pipeline.{EventSink, ExtractionJob, ExtractionPipeline, Selection}
import graft.sources.TranscriptSource
import graft.table.{CheckpointStore, SnapshotTable}

/** The ingest benchmark: one workload per run, timed from outside the
  * program through its public entry points.
  *
  * {{{
  * perfbench.Main --workload bulk_backfill|daily_increments --seed N
  *   --seconds S --trace 0|1 --work DIR [--size full|smoke] [--corrupt 0|1]
  * }}}
  *
  * The last stdout line is the raw result (see `Run.report`).
  * `--corrupt 1` alters the output the checks read (one character
  * appended to the text of every turn_idx 0 row), so the checks must
  * fail. */
object Main {

  /** Input sizes, in eligible turns. bulkRows: the backfill input;
    * dailyConvs conversations cut into deltas of deltaRows, one per cycle
    * and one more for the CLI run; warm*: the warm-up inputs. */
  final case class Size(bulkRows: Int, dailyConvs: Int, deltaRows: Int,
      cycles: Int, warmBulkRows: Int, warmDailyConvs: Int, warmDeltaRows: Int,
      bulkExtractReps: Int, dailyExtractReps: Int, replayRows: Int, setups: Int)

  val Sizes = Map(
    "full" -> Size(bulkRows = 5000, dailyConvs = 1200, deltaRows = 700,
      cycles = 3, warmBulkRows = 400, warmDailyConvs = 100, warmDeltaRows = 150,
      bulkExtractReps = 3, dailyExtractReps = 7, replayRows = 600, setups = 3),
    "smoke" -> Size(bulkRows = 250, dailyConvs = 60, deltaRows = 60,
      cycles = 2, warmBulkRows = 120, warmDailyConvs = 40, warmDeltaRows = 30,
      bulkExtractReps = 2, dailyExtractReps = 2, replayRows = 60, setups = 2))

  /** IngestApp's shipped defaults. */
  val Chunks = 8
  val Salt = 8
  val ParaScaleBulk = 16
  val WarmSeed = 7L
  val Sys = "cs"
  /** `Selection.deleteLookback`'s re-delivery window. */
  val LookbackMs: Long = 7 * 86400000L

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, size: Size, corrupt: Boolean)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"),
      Sizes(m.getOrElse("size", "full")), m.getOrElse("corrupt", "0") == "1")
    require(Set("bulk_backfill", "daily_increments")(a.workload),
      s"unknown workload ${a.workload}")
    val run = new Run(a)
    val code = try run.go() finally run.stop()
    sys.exit(code)
  }
}

/** Fingerprint of a multiset of rows: count plus two order-free hash sums. */
final case class Fp(rows: Long, lo: Long, hi: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, lo + o.lo, hi + o.hi)
}

object Fp {
  val Zero = Fp(0, 0, 0)
  /** Aggregates whose values, read back with [[of]], give the fingerprint. */
  def aggs(cols: Column*): Seq[Column] = {
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
  }
  def of(r: Row, at: Int): Fp = Fp(r.getLong(at), r.getLong(at + 1), r.getLong(at + 2))
}

/** What the generator says a set of eligible rows must produce: the
  * golden fingerprint on (conv_id, turn_idx, payload_kind,
  * extracted_text), output and payload bytes, and the max ts. */
final case class Expect(golden: Fp, outBytes: Long, payloadBytes: Long, maxTs: Long) {
  def rows: Long = golden.rows
  def +(o: Expect): Expect = Expect(golden + o.golden, outBytes + o.outBytes,
    payloadBytes + o.payloadBytes, math.max(maxTs, o.maxTs))
}

object Expect {
  val Zero = Expect(Fp.Zero, 0L, 0L, Long.MinValue)
}

/** A tombstone as the benchmark generated it. */
final case class Tomb(conv: String, turn: Int, ts: Long, delta: Int)

final class Run(a: Main.Args) {
  import Main._

  val cores: Int = Runtime.getRuntime.availableProcessors()
  val spans = new Spans
  val rec = new Recorder
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  private var peakHeapMb = 0.0
  private var tableSeq = 0
  private val tables = Paths.get(a.work, "tables")
  private val samples = scala.collection.mutable.Map.empty[String, Seq[Double]]
  private val layer = scala.collection.mutable.Map.empty[String, Seq[Double]]
  private val stamp = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val started = System.nanoTime()

  def session(): Unit = {
    spark = Bench.session(cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stop(): Unit = if (spark != null) spark.stop()

  /** Progress line on stderr (the run log), with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f $msg")

  def addSample(k: String, v: Double): Unit = samples(k) = samples.getOrElse(k, Nil) :+ v

  def addLayer(kv: Map[String, Double]): Unit =
    kv.foreach { case (k, v) => layer(k) = layer.getOrElse(k, Nil) :+ v }

  // ---------------------------------------------------------------- checks

  /** Count one operation; any problem counts it as failed. */
  def check(what: String, problems: Seq[String]): Boolean = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] FAILED $what: ${problems.mkString("; ")}")
    }
    problems.isEmpty
  }

  def problem(bad: Boolean, msg: => String): Option[String] = if (bad) Some(msg) else None

  val goldenCols: Seq[Column] =
    Seq("conv_id", "turn_idx", "payload_kind", "extracted_text").map(col)

  /** The output as the checks read it (see `--corrupt`). */
  def asChecked(df: DataFrame): DataFrame =
    if (!a.corrupt) df
    else df.withColumn("extracted_text",
      when(col("turn_idx") === 0, concat(col("extracted_text"), lit("#")))
        .otherwise(col("extracted_text")))

  /** Expected values per group, from the goldens and the eligible input. */
  def expect(golden: DataFrame, turns: DataFrame, group: Column): Map[Int, Expect] = {
    val g = golden.groupBy(group.as("g"))
      .agg(sum(octet_length(col("extracted_text"))), Fp.aggs(goldenCols: _*): _*)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), Fp.of(r, 2))).toMap
    val t = Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)
      .groupBy(group.as("g"))
      .agg(sum(octet_length(col("text"))), max(unix_millis(col("ts"))))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    g.map { case (k, (out, fp)) =>
      k -> Expect(fp, out, t(k)._1, t(k)._2) }
  }

  /** Checks of a committed table: its rows equal the goldens, its event
    * rows equal its rows, and the ingest watermark equals its max ts. */
  def tableProblems(root: String, want: Expect): Seq[String] = {
    val table = asChecked(new SnapshotTable(root).read(spark))
    val r = table.agg(max(unix_millis(col("ts"))),
      Fp.aggs(goldenCols: _*) ++ Fp.aggs(col("conv_id"), col("turn_idx")): _*).head()
    val (maxTs, got, keys) = (r.getLong(0), Fp.of(r, 1), Fp.of(r, 4))
    val evAggs = Fp.aggs(col("key"),
      get_json_object(col("value"), "$.turnIdx").cast("int"))
    val ev = EventSink.readTopic(spark, root, s"$Sys-ingest")
      .agg(evAggs.head, evAggs.tail: _*).head()
    val wm = new CheckpointStore(root).read(Sys, "ingest").getTime
    Seq(problem(got != want.golden, s"table $got != goldens ${want.golden}"),
      problem(Fp.of(ev, 0) != keys, s"events ${Fp.of(ev, 0)} != committed rows $keys"),
      problem(wm != maxTs, s"ingest watermark $wm != max committed ts $maxTs")).flatten
  }

  def jobProblems(res: ExtractionJob.JobResult, rows: Long): Seq[String] =
    Seq(problem(res.status != "COMPLETED", s"status ${res.status}: ${res.error}"),
      problem(res.rowsWritten != rows, s"rowsWritten ${res.rowsWritten} != $rows")).flatten

  // --------------------------------------------------------------- helpers

  def freshTable(): String = {
    tableSeq += 1
    val root = tables.resolve(s"t$tableSeq")
    Fs.delete(root)
    val store = new CheckpointStore(root.toString)
    store.seed(Sys, "ingest", TranscriptGen.WatermarkTs)
    store.seed(Sys, "delete", TranscriptGen.WatermarkTs)
    root.toString
  }

  def releaseCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Live heap at an operation boundary: after the listener bus has
    * drained, cached blocks the program released asynchronously are gone
    * (waiting at most 2 s, so blocks it keeps still count), and two full
    * collections (the second frees what the ContextCleaner released after
    * the first). */
  def sampleHeap(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    System.gc()
    val t0 = System.nanoTime()
    def storageUsed = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    while (storageUsed > 0 && System.nanoTime() - t0 < 2000000000L) Thread.sleep(20)
    System.gc()
    Thread.sleep(50)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }

  /** The extraction-only pass (the `Bench.timeExtract` shape): select →
    * extract → aggregate over the output so extraction cannot be pruned. */
  def extractPass(turns: DataFrame): (Long, Long) = {
    val r = asChecked(ExtractionPipeline.extractExpr(spark,
        Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)).toDF())
      .agg(count(lit(1)), sum(octet_length(col("extracted_text")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Timed extraction-only passes, each with its output check; the
    * listener records of the first one feed the `extract.*` stage metrics. */
  def timedExtract(turns: DataFrame, want: Expect, reps: Int, traceIt: Boolean): Unit =
    (1 to reps).foreach { rep =>
      val ((n, out), op) = spans.time("extract_pass")(extractPass(turns))
      if (check("extract pass", Seq(
          problem(n != want.rows, s"$n rows != ${want.rows}"),
          problem(out != want.outBytes, s"$out output bytes != ${want.outBytes}")).flatten))
        addSample("extract_turns_per_s", n / op.sec)
      if (traceIt && rep == 1) {
        val ts = rec.tasksOf(rec.jobsIn(op.startMs, op.endMs))
        addLayer(Map("extract.stage_task_s" ->
          ts.groupBy(_.stageId).values.map(_.map(_.runMs).sum).maxOption.getOrElse(0L) / 1e3,
          "extract.task_skew" -> Layers.skew(ts)))
      }
    }

  def runJob(turns: DataFrame, root: String, chunks: Int = Chunks): ExtractionJob.JobResult =
    ExtractionJob.run(spark, turns, root, nChunks = chunks, salt = Salt)

  /** Run `body` with the benchmark's listener attached when tracing. */
  def traced[T](on: Boolean)(body: => T): T = {
    if (!on) return body
    spark.sparkContext.addSparkListener(rec)
    spans.tracing = true
    try body
    finally {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      spans.tracing = false
    }
  }

  def selectLayer(turns: DataFrame, wm: Timestamp): Unit = {
    val rowsIn = turns.count()
    val t0 = System.nanoTime()
    val rowsOut = Selection.ingest(turns, wm, spark).count()
    addLayer(Map("select.s" -> (System.nanoTime() - t0) / 1e9,
      "select.rows_in" -> rowsIn.toDouble, "select.rows_out" -> rowsOut.toDouble))
  }

  def tableLayer(root: String): Unit = {
    val t = new SnapshotTable(root)
    val files = t.currentSnapshotId.toSeq.flatMap(t.dataPaths)
      .flatMap(p => Fs.parquetFiles(Paths.get(p)))
    addLayer(Map("table.snapshots" -> t.history().size.toDouble,
      "table.data_files" -> files.size.toDouble,
      "table.bytes" -> files.map(Files.size).sum.toDouble))
  }

  /** Single-thread replay of a seeded sample of eligible payloads through
    * the `extract/` functions. Each sub-layer is timed over the whole
    * sample; median of five passes after a warm-up pass. The replayed
    * output is checked against the goldens too. */
  def replayLayer(turns: DataFrame, golden: DataFrame): Unit = {
    val sample = Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)
      .join(golden.select("conv_id", "turn_idx", "extracted_text"),
        Seq("conv_id", "turn_idx"))
      .orderBy(xxhash64(lit(a.seed), col("conv_id"), col("turn_idx")))
      .limit(a.size.replayRows).select("text", "extracted_text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val payloads = sample.map(_._1)
    val kinds = payloads.map(PayloadSniffer.sniff)
    def ofKind(k: String) = payloads.zip(kinds).collect { case (p, `k`) => p }
    val (html, pdf, plain) =
      (ofKind(PayloadSniffer.Html), ofKind(PayloadSniffer.Pdf), ofKind(PayloadSniffer.Plain))
    var sink = 0L
    def sec(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def rate(n: Int, s: Double) = if (s > 0) n / s else 0.0
    val mismatches = sample.count { case (p, want) => Extractor.extract(p).text != want }
    check("extract replay", problem(mismatches > 0,
      s"$mismatches of ${sample.length} replayed payloads differ from goldens").toSeq)
    val passes = (1 to 6).map { _ =>
      val roots = html.map(HtmlDom.parse)
      Map(
        "extract.sniff_s" -> sec(payloads.foreach(p => sink += PayloadSniffer.sniff(p).length)),
        "extract.html.dom_s" -> sec(html.foreach(p => sink += HtmlDom.parse(p).children.size)),
        "extract.html.classify_s" -> sec(roots.foreach(r =>
          sink += HtmlExtractor.classify(HtmlExtractor.blocks(r)).count(identity))),
        "extract.html.rows_per_s" -> rate(html.length,
          sec(html.foreach(p => sink += Extractor.extract(p).nSpans))),
        "extract.pdf.spans_s" -> sec(pdf.foreach(p => sink += PdfSpans.spans(p).size)),
        "extract.pdf.text_s" -> sec(pdf.foreach(p => sink += PdfSpans.extractText(p).length)),
        "extract.pdf.rows_per_s" -> rate(pdf.length,
          sec(pdf.foreach(p => sink += Extractor.extract(p).nSpans))),
        "extract.plain.rows_per_s" -> rate(plain.length,
          sec(plain.foreach(p => sink += Extractor.extract(p).nSpans))))
    }.drop(1)
    passes.head.keys.foreach(k => layer(k) = Seq(Layers.median(passes.map(_(k)))))
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toDouble
    layer("extract.bytes_in") = Seq(payloads.map(utf8).sum)
    layer("extract.bytes_out") = Seq(payloads.map(p => utf8(Extractor.extract(p).text)).sum)
    stamp("replay_sink") = (sink & 0xff).toString // keeps the timed calls live
  }

  /** One fresh-JVM `graft.cli.IngestApp` run with its shipped defaults;
    * the parent waits, so no more than `nproc` task threads run at once.
    * Records cli.cold_run_s (launch to exit) and cli.startup_s (that
    * minus the job time implied by the app's JSON line), then checks. */
  def cliRun(input: String, root: String, want: Expect, rows: Long): Unit = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(s => s.startsWith("--add-opens") || s.startsWith("-Djava.io.tmpdir") ||
        s.startsWith("-Dspark.local.dir") || s.startsWith("-Duser.timezone"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvm ++ Seq(
      s"-Dspark.master=local[$cores]", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), "graft.cli.IngestApp",
      "--input", input, "--table", root)
    val log = Paths.get(a.work, "cli.log").toFile
    val t0 = System.nanoTime()
    val p = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.to(log)).start()
    val out = try {
      val s = scala.io.Source.fromInputStream(p.getInputStream)
      try s.mkString finally s.close()
    } finally {
      if (!p.waitFor(150, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); p.waitFor()
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val json = out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption.getOrElse("")
    def field(k: String) =
      s""""$k":"?([^",}]*)""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val (written, tps) = (field("rowsWritten"), field("turnsPerSec"))
    check("cli ingest",
      if (p.exitValue() != 0 || field("status") != "COMPLETED")
        Seq(s"IngestApp exit ${p.exitValue()}: $json")
      else problem(written.toLong != rows, s"rowsWritten $written != $rows").toSeq ++
        tableProblems(root, want))
    val jobSec = if (tps.nonEmpty && tps.toDouble > 0) written.toDouble / tps.toDouble else 0.0
    addLayer(Map("cli.cold_run_s" -> wall, "cli.startup_s" -> (wall - jobSec)))
  }

  // ---------------------------------------------------------------- stamp

  /** Run-validity stamp: host calibration probes, core count, heap, and
    * a warm read of the input (a cold read inside the timed region is a
    * host effect, not the program's). */
  def stampRun(inputs: Seq[String]): Unit = {
    Bench.calibrationProbe(); Bench.calibrationProbe()
    Bench.memCalibrationProbe(); Bench.memCalibrationProbe()
    stamp("probe_med_ms") = Json.num(Layers.median((1 to 5).map(_ => Bench.calibrationProbe())))
    stamp("mem_probe_med_ms") =
      Json.num(Layers.median((1 to 5).map(_ => Bench.memCalibrationProbe())))
    stamp("nproc") = cores.toString
    stamp("heap_max_mb") = (Runtime.getRuntime.maxMemory() / 1048576).toString
    val t0 = System.nanoTime()
    val bytes = inputs.flatMap(i => Fs.files(Paths.get(i))).map(f => Files.readAllBytes(f).length.toLong).sum
    stamp("warm_read_bytes") = bytes.toString
    stamp("warm_read_s") = Json.num((System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------- bulk_backfill

  final case class BulkIn(dir: String) {
    def turns: DataFrame = TranscriptSource.read(spark, s"$dir/turns")
    def golden: DataFrame = spark.read.parquet(s"$dir/golden")
  }

  /** One backfill: extraction-only passes, then one fresh-table job. */
  def bulkIteration(in: BulkIn, ex: Expect, inputBytes: Double, traceIt: Boolean): Unit = {
    releaseCaches()
    val turns = in.turns
    val root = freshTable()
    traced(traceIt) {
      val itStartMs = System.currentTimeMillis()
      timedExtract(turns, ex, a.size.bulkExtractReps, traceIt)
      val (res, jop) = spans.time("job")(runJob(turns, root))
      note("backfill job done")
      sampleHeap()
      if (traceIt) {
        addLayer(Layers.spark(rec, itStartMs, jop.endMs, cores))
        addLayer(Layers.job(rec, jop, inputBytes) + ("job.chunks" -> res.chunksCommitted.toDouble))
      }
      if (check("backfill job", jobProblems(res, ex.rows) ++ tableProblems(root, ex))) {
        addSample("ingest_turns_per_s", res.rowsWritten / jop.sec)
        addSample("cycle_p50_s", jop.sec)
        addSample("stored_bytes_per_input_byte",
          Fs.bytes(Paths.get(root, "data")).toDouble / ex.payloadBytes)
      }
      if (traceIt) { tableLayer(root); selectLayer(turns, TranscriptGen.WatermarkTs) }
    }
    Fs.delete(Paths.get(root))
  }

  def bulk(main: String): Unit = {
    val in = BulkIn(main)
    val ex = expect(in.golden, in.turns, lit(0))(0)
    val inputBytes = Fs.bytes(Paths.get(main, "turns")).toDouble
    timed { i => bulkIteration(in, ex, inputBytes, traceIt = a.trace && i % 2 == 0) }
    if (a.trace) {
      if (spans.named("job").forall(_.traced)) bulkIteration(in, ex, inputBytes, traceIt = false)
      replayLayer(in.turns, in.golden)
      overhead(spans.named("job"))
    }
  }

  // ---------------------------------------------------- daily_increments

  final case class DailyIn(dir: String) {
    def delta(d: Int): Path = Paths.get(dir, "deltas", s"delta=$d")
    def tombs(d: Int): Path = Paths.get(dir, "tombs", s"delta=$d")
    def golden: DataFrame = spark.read.parquet(s"$dir/golden")
    /** The fresh rows of deltas 0..`d`. */
    def fresh(d: Int): DataFrame =
      spark.read.parquet((0 to d).map(delta(_).toString): _*)
    lazy val byDelta: Map[Int, Expect] =
      expect(golden, spark.read.parquet(s"$dir/deltas"), col("delta"))
    /** Expected values of deltas 0..`d` together. */
    def upTo(d: Int): Expect =
      (0 to d).map(byDelta.getOrElse(_, Expect.Zero)).foldLeft(Expect.Zero)(_ + _)
    lazy val tombRows: Seq[Tomb] = spark.read.parquet(s"$dir/tombs").collect()
      .map(r => Tomb(r.getString(0), r.getInt(1), r.getTimestamp(2).getTime, r.getInt(3))).toSeq
  }

  val TombSchema = StructType(Seq(StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType), StructField("ts", TimestampType)))

  /** One episode: a fresh table over a source that starts with the stale
    * rows; `cycles` cron cycles, each landing one delta of fresh rows and
    * its tombstones, then running `ExtractionJob.run` and
    * `runDelete`. Each cycle checks its row counts and both watermarks;
    * the episode ends with the golden and event checks of the whole table
    * and, in a traced run, one more delta ingested by a fresh-JVM IngestApp.
    * A warm-up episode (`measure` off) checks nothing. */
  def dailyEpisode(in: DailyIn, cycles: Int, traceCycles: Boolean,
      measure: Boolean, chunks: Int = Chunks): Unit = {
    val root = freshTable()
    val ep = Paths.get(root + "-src")
    val (source, tombDir) = (ep.resolve("turns"), ep.resolve("tombs"))
    Fs.appendFiles(Paths.get(in.dir, "base"), source, "base")
    val store = new CheckpointStore(root)
    val cycleSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until cycles).foreach { d =>
      Fs.appendFiles(in.delta(d), source, s"delta$d")
      if (Files.exists(in.tombs(d))) Fs.appendFiles(in.tombs(d), tombDir, s"tomb$d")
      releaseCaches()
      val turns = TranscriptSource.read(spark, source.toString)
      val tombs =
        if (Files.exists(tombDir)) spark.read.parquet(tombDir.toString)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], TombSchema)
      val delWm0 = store.read(Sys, "delete").getTime
      val ingestWm0 = store.read(Sys, "ingest")
      val traceIt = traceCycles && d % 2 == 0
      traced(traceIt) {
        val ((res, del), cop) = spans.time("cycle") {
          (spans.time("job")(runJob(turns, root, chunks))._1,
            spans.time("delete")(ExtractionJob.runDelete(spark, tombs, root))._1)
        }
        note(s"cycle $d done")
        if (measure) {
          cycleSecs += cop.sec
          sampleHeap()
          // the delete path must publish the distinct keys of its lookback
          // window and move its watermark to their max deletion ts
          val window = in.tombRows.filter(t => t.delta <= d && t.ts > delWm0 - LookbackMs)
          val wantDel = window.map(t => (t.conv, t.turn)).distinct.size.toLong
          val wantDelWm = if (window.isEmpty) delWm0 else window.map(_.ts).max
          val want = in.upTo(d)
          val ok = check(s"cycle $d ingest", jobProblems(res, in.byDelta.get(d).map(_.rows).getOrElse(0L)) ++
            problem(store.read(Sys, "ingest").getTime != want.maxTs,
              s"ingest watermark ${store.read(Sys, "ingest")} != max eligible ts ${want.maxTs}")) &&
            check(s"cycle $d delete", Seq(
              problem(del.status != "COMPLETED", s"status ${del.status}: ${del.error}"),
              problem(del.rowsWritten != wantDel, s"published ${del.rowsWritten} tombstones != $wantDel"),
              problem(store.read(Sys, "delete").getTime != wantDelWm,
                s"delete watermark ${store.read(Sys, "delete")} != max tombstone ts $wantDelWm")).flatten)
          if (ok) {
            addSample("cycle_p50_s", cop.sec)
            addSample("ingest_turns_per_s", res.rowsWritten / spans.named("job").last.sec)
          }
        }
        if (traceIt) {
          addLayer(Layers.spark(rec, cop.startMs, cop.endMs, cores))
          addLayer(Layers.job(rec, spans.named("job").last, Fs.bytes(source).toDouble) +
            ("job.chunks" -> res.chunksCommitted.toDouble))
          addLayer(Map("delete.run_s" -> spans.named("delete").last.sec,
            "delete.rows" -> del.rowsWritten.toDouble))
          selectLayer(turns, ingestWm0)
        }
      }
    }
    if (measure) {
      val want = in.upTo(cycles - 1)
      if (check("episode table", tableProblems(root, want)))
        addSample("stored_bytes_per_input_byte",
          Fs.bytes(Paths.get(root, "data")).toDouble / want.payloadBytes)
      stamp("cycle_s") = cycleSecs.map(Json.num).mkString("[", ",", "]")
      addLayer(Map("cycle.n" -> cycleSecs.size.toDouble, "cycle.max_s" -> cycleSecs.max,
        "cycle.drift_ratio" -> cycleSecs.last / cycleSecs.head))
      if (a.trace) {
        Fs.appendFiles(in.delta(cycles), source, s"delta$cycles")
        cliRun(source.toString, root, in.upTo(cycles),
          in.byDelta.get(cycles).map(_.rows).getOrElse(0L))
        tableLayer(root)
      }
    }
    Fs.delete(ep)
    Fs.delete(Paths.get(root))
  }

  def daily(main: String): Unit = {
    val in = DailyIn(main)
    val cycles = a.size.cycles
    in.byDelta; in.tombRows
    timed { i =>
      dailyEpisode(in, cycles, traceCycles = a.trace, measure = true)
      releaseCaches()
      timedExtract(spark.read.parquet(s"$main/deltas"), in.upTo(in.byDelta.keys.max),
        a.size.dailyExtractReps, traceIt = false)
    }
    if (a.trace) {
      replayLayer(in.fresh(cycles - 1), in.golden.drop("delta"))
      overhead(spans.named("cycle"))
    }
  }

  // ------------------------------------------------------------ driver

  /** Repeat `iteration` until `--seconds` have passed (at least once). */
  def timed(iteration: Int => Unit): Unit = {
    val b0 = HostProbe.busyJiffies()
    val c0 = HostProbe.processCpuNanos()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) { iteration(i); i += 1 }
    val wall = (System.nanoTime() - t0) / 1e9
    stamp("timed_s") = Json.num(wall)
    stamp("iterations") = i.toString
    stamp("foreign_cores") = Json.num(HostProbe.foreignCores(b0,
      HostProbe.busyJiffies(), c0, HostProbe.processCpuNanos(), wall))
  }

  def overhead(ops: Seq[Op]): Unit = {
    val (t, u) = ops.partition(_.traced)
    if (t.nonEmpty && u.nonEmpty)
      layer("trace.overhead_share") =
        Seq(Layers.median(t.map(_.sec)) / Layers.median(u.map(_.sec)) - 1)
  }

  def go(): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val s = a.size
    val isBulk = a.workload == "bulk_backfill"
    Files.createDirectories(tables)
    session()
    // the warm-up input first, outside set-up time; the workload's own
    // input after the set-ups, on a warm JVM
    val g0 = System.nanoTime()
    val warm =
      if (isBulk) Inputs.bulk(spark, a.work, WarmSeed, s.warmBulkRows, ParaScaleBulk)
      else Inputs.daily(spark, a.work, WarmSeed, s.warmDailyConvs, s.warmDeltaRows, 2)
    val warmGenSec = (System.nanoTime() - g0) / 1e9

    // the warm-up runs every code path of the timed region, with two
    // chunks per job (chunk bounds and the chunk loop) so that it stays short
    def warmup(): Unit =
      if (isBulk) {
        val w = BulkIn(warm)
        extractPass(w.turns)
        val root = freshTable()
        runJob(w.turns, root, chunks = 2)
        Fs.delete(Paths.get(root))
      } else {
        extractPass(DailyIn(warm).fresh(0))
        dailyEpisode(DailyIn(warm), 1, traceCycles = false, measure = false, chunks = 2)
      }

    // set up several times: the first from process start (less input
    // generation), the others from a session restart
    warmup()
    val setups = scala.collection.mutable.ArrayBuffer(
      (System.currentTimeMillis() - jvmStartMs) / 1e3 - warmGenSec)
    (2 to s.setups).foreach { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      session()
      warmup()
      setups += (System.nanoTime() - t0) / 1e9
    }
    spans.ops.clear()
    samples("setup_s") = Seq(Layers.median(setups.toSeq))
    stamp("setup_samples_s") = setups.map(Json.num).mkString("[", ",", "]")
    val g1 = System.nanoTime()
    val main =
      if (isBulk) Inputs.bulk(spark, a.work, a.seed, s.bulkRows, ParaScaleBulk)
      else Inputs.daily(spark, a.work, a.seed, s.dailyConvs, s.deltaRows, s.cycles + 1)
    stamp("input_gen_s") = Json.num(warmGenSec + (System.nanoTime() - g1) / 1e9)
    note("set-up done")

    stampRun(Seq(main))
    if (isBulk) bulk(main) else daily(main)
    samples("peak_heap_mb") = Seq(peakHeapMb)
    if (a.trace)
      Files.write(Paths.get(a.work, s"spans-${a.workload}-${a.seed}.jsonl"),
        spans.jsonl(rec).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    report()
  }

  /** Prints the run's raw result: the medians of the end-to-end samples
    * (or, traced, of the per-layer values), the operation tally and the
    * stamp. run.py names and labels them from BENCHMARK.json. */
  def report(): Int = {
    val values = if (a.trace) layer else samples
    val metrics = values.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(Layers.median(v))}""" }.mkString(",")
    val stampJson = stamp.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""perfbench raw: {"workload":"${a.workload}","seed":${a.seed},"trace":${a.trace},"attempted":$attempted,"failed":$failed,"stamp":{$stampJson},"metrics":{$metrics}}""")
    if (failed == 0) 0 else 1
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
