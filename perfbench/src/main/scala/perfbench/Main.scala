package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark program: one workload, one seed, one process.
  * {{{
  *   perfbench.Main --workload mixed|curate --seed N --seconds S
  *                  --trace 0|1 --work DIR --vocab FILE [--docs N]
  * }}}
  * Writes DIR/result.json (the compact result), DIR/board.json (every
  * metric, inputs, sample counts) and, traced, DIR/trace.jsonl (span tree).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val cfg = Config(
      workload = workload,
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      traced = opts.get("trace").contains("1"),
      work = Paths.get(opts("work")).toAbsolutePath,
      docs = opts.get("docs").map(_.toInt).getOrElse(if (workload == "curate") 2000 else 500),
      base = Files.readAllLines(Paths.get(opts("vocab"))).asScala.toSeq
        .map(_.trim).filter(w => w.nonEmpty && !w.startsWith("#")))
    Files.createDirectories(cfg.work)

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, cfg)
    val code =
      try {
        val body = workload match {
          case "mixed"  => new MixedWorkload(run).measure()
          case "curate" => new CurateWorkload(run).measure()
          case other    => throw new IllegalArgumentException(s"unknown workload $other")
        }
        run.finish(body, sessionS)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, traced: Boolean,
                        work: Path, docs: Int, base: Seq[String])

/** Shared state of one run: samples, op counts, failures and the tracer. */
final class Run(val spark: SparkSession, val cfg: Config) {
  val gen = new Gen(cfg.seed, cfg.base)
  val mapper = new ObjectMapper()
  val tracer: Option[Tracer] = if (cfg.traced) Some(new Tracer(spark.sparkContext)) else None

  /** Latency samples by name (ms unless named otherwise). */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Per-layer samples (traced runs); reported as medians. */
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val inputs = mapper.createObjectNode()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def layerSample(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Count one product op; a thrown exception or a failed check is a failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg.take(300)
    System.err.println(s"[perfbench] FAIL $msg")
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t) / 1e6)
  }

  /** Traced runs also run the headline op plain (curate: every other pass;
    * mixed: each hybrid search a second time), so the cost of tracing itself
    * is measured in the same process on the same ops.
    */
  var tracingOn: Boolean = cfg.traced
  private val overhead = Map(true -> mutable.ArrayBuffer[Double](), false -> mutable.ArrayBuffer[Double]())
  def traceToggle(i: Int): Unit = tracingOn = cfg.traced && i % 2 == 0
  /** Wall time of one headline op, including the trace drain when traced. */
  def overheadSample(ms: Double): Unit = if (cfg.traced) overhead(tracingOn) += ms

  /** Run `body` as a traced span when tracing, plainly otherwise. */
  def traced[T](name: String, req: Long = 0L)(body: => T): (T, Option[Span]) =
    tracer.filter(_ => tracingOn) match {
      case Some(t) =>
        val (out, s) = t.span(name, req)(body)
        t.drain()
        (out, Some(s))
      case None => (body, None)
    }

  /** Spark counts of one op span under `spark.<op>.<what>`. */
  def sparkCounts(op: String, s: Span, rowsOut: Long = -1L): Unit = {
    val p = s"spark.$op."
    layerSample(p + "jobs", s.jobs.toDouble)
    layerSample(p + "stages", s.stages.toDouble)
    layerSample(p + "tasks", s.tasks.toDouble)
    layerSample(p + "driver_gap_ms", s.driverGapMs)
    layerSample(p + "task_ms", s.taskMs.toDouble)
    layerSample(p + "input_bytes", s.inputBytes.toDouble)
    if (rowsOut >= 0) layerSample(p + "rows_read_per_row_out", s.recordsRead.toDouble / math.max(1L, rowsOut))
    layerSample(p + "shuffle_bytes", s.shuffleBytes.toDouble)
    layerSample(p + "spill_bytes", s.spillBytes.toDouble)
    layerSample(p + "bytes_written", s.bytesWritten.toDouble)
    layerSample(p + "files_discovered", s.filesDiscovered.toDouble)
    layerSample(p + "codegen_compiles", s.codegenCompiles.toDouble)
    layerSample(p + "codegen_ms", s.codegenMs)
  }

  /** Everything before the first timed op; reported as setup_s. */
  def setup(body: => Unit): Unit = sample("setup_ms", timed(body)._2)

  /** Closed loop: start steps (whole cycles or passes) until the window
    * is over and at least `minSteps` ran; the step in flight finishes.
    */
  def loop(seconds: Double, minSteps: Int = 1)(step: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minSteps || System.nanoTime() < end) { step(i); i += 1 }
  }

  def gcTotals: (Long, Long) = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Driver-side micro-measurements of the `functions` layer on generated inputs. */
  def functionsLayer(): Unit = {
    val docs = (0 until 200).map(i => gen.doc(i).text)
    val splitter = graft.functions.TextSplitter.default
    val emb = graft.functions.HashingEmbedder.default
    val chunks = docs.flatMap(splitter.split)
    for (_ <- 0 until 3) {
      val (_, splitMs) = timed(docs.foreach(splitter.split))
      layerSample("functions.split_us_per_doc", splitMs * 1000 / docs.size)
      val (_, embMs) = timed(chunks.foreach(emb.embed))
      layerSample("functions.embed_us_per_chunk", embMs * 1000 / chunks.size)
      val (_, fMs) = timed(for (_ <- 0 until 50; (f, _) <- gen.filterPool)
        graft.functions.FilterDsl.metadataFilterColumn(f, org.apache.spark.sql.functions.col("metadata")))
      layerSample("functions.filter_compile_us", fMs * 1000 / (50 * gen.filterPool.size))
    }
  }

  def median(xs: Seq[Double]): Double = Run.quantile(xs, 0.5)

  /** Write board.json and result.json. `e2e` holds the gated metrics. */
  def finish(body: Body, sessionS: Double): Unit = {
    val board = mapper.createObjectNode()
    board.put("workload", cfg.workload)
    board.put("seed", cfg.seed)
    board.put("seconds", cfg.seconds)
    board.put("traced", cfg.traced)
    board.put("session_start_s", sessionS)
    board.set[ObjectNode]("inputs", inputs)
    val named = board.putObject("named")
    (body.named :+ ("peak_rss_mb" -> (peakRssMb, "MB"))).foreach { case (k, (v, unit)) =>
      val o = named.putObject(k); o.put("value", v); o.put("unit", unit) }
    val counts = board.putObject("samples")
    samples.foreach { case (k, v) =>
      val o = counts.putObject(k)
      o.put("n", v.size); o.put("p50", Run.quantile(v.toSeq, 0.5)); o.put("p90", Run.quantile(v.toSeq, 0.9))
      val raw = o.putArray("ms")
      v.foreach(x => raw.add(math.rint(x * 10) / 10))
    }
    board.put("attempted", attempted)
    board.put("failed", failed)
    val fl = board.putArray("failures")
    failures.foreach(fl.add)

    val metrics = mapper.createObjectNode()
    def put(name: String, v: Double, unit: String): Unit = {
      val o = metrics.putObject(name); o.put("value", v); o.put("unit", unit) }
    if (cfg.traced) {
      functionsLayer()
      val (gcMs, gcN) = gcTotals
      layerSample("jvm.gc_ms", (gcMs - body.gc0._1).toDouble)
      layerSample("jvm.gc_count", (gcN - body.gc0._2).toDouble)
      if (overhead.values.forall(_.nonEmpty))
        layerSample("bench.trace_overhead_pct",
          100 * (median(overhead(true).toSeq) / median(overhead(false).toSeq) - 1))
      Run.PerLayer.foreach { case (name, unit) =>
        put(name, layer.get(name).map(v => median(v.toSeq)).getOrElse(0.0), unit) }
      tracer.foreach { t => t.close(); t.writeJsonl(cfg.work.resolve("trace.jsonl")) }
      board.set[ObjectNode]("per_layer", metrics.deepCopy())
    } else {
      put("setup_s", samples("setup_ms").head / 1000, "s")
      body.e2e.foreach { case (k, (v, unit)) => put(k, v, unit) }
      board.set[ObjectNode]("end_to_end", metrics.deepCopy())
    }
    val result = mapper.createObjectNode()
    result.put("correct", failed == 0 && attempted > 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.set[ObjectNode]("metrics", metrics)
    Files.writeString(cfg.work.resolve("board.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(board))
    Files.writeString(cfg.work.resolve("result.json"), mapper.writeValueAsString(result))
  }
}

/** What a workload hands back: gated metrics, per-path product metrics, GC base. */
final case class Body(e2e: Seq[(String, (Double, String))],
                      named: Seq[(String, (Double, String))],
                      gc0: (Long, Long))

object Run {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private val Reads = Seq("search", "filtered_search", "match", "fetch")
  private val Ops = Reads ++ Seq("update", "delete", "create", "curate")
  private val CurateStages = Seq("line_dedup", "quality", "pii", "near_dup",
    "decontam_substr", "self_dedup_substr")

  /** Every per-layer metric, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] =
    Ops.flatMap(o => Seq(s"spark.$o.jobs" -> "count", s"spark.$o.stages" -> "count",
      s"spark.$o.tasks" -> "count", s"spark.$o.driver_gap_ms" -> "ms", s"spark.$o.task_ms" -> "ms")) ++
    Reads.flatMap(o => Seq(s"spark.$o.input_bytes" -> "bytes", s"spark.$o.rows_read_per_row_out" -> "ratio")) ++
    Seq("update", "delete", "create", "curate").flatMap(o =>
      Seq(s"spark.$o.shuffle_bytes" -> "bytes", s"spark.$o.spill_bytes" -> "bytes")) ++
    Seq("update", "delete", "create").map(o => s"spark.$o.bytes_written" -> "bytes") ++
    (Reads :+ "update").map(o => s"spark.$o.files_discovered" -> "count") ++
    Seq("search", "filtered_search", "match", "curate").flatMap(o =>
      Seq(s"spark.$o.codegen_compiles" -> "count", s"spark.$o.codegen_ms" -> "ms")) ++
    Seq("core.search.plan_ms" -> "ms", "core.search.plan_jobs" -> "count",
      "core.search.exec_ms" -> "ms", "core.fetch.exec_ms" -> "ms",
      "core.update.write_amp" -> "ratio", "core.bm25_tail_segments" -> "count",
      "core.bm25_tail_bytes" -> "bytes", "core.collection_files" -> "count",
      "operators.vector_search_ms" -> "ms", "operators.bm25_search_ms" -> "ms",
      "operators.hybrid_search_ms" -> "ms", "operators.match_ms" -> "ms",
      "operators.match_snippet_ms" -> "ms") ++
    CurateStages.map(s => s"operators.curate.${s}_ms" -> "ms") ++
    Seq("operators.curate.kept_frac" -> "ratio",
      "functions.filter_compile_us" -> "us", "functions.embed_us_per_chunk" -> "us",
      "functions.split_us_per_doc" -> "us",
      "api.format_ms" -> "ms", "api.request_overhead_ms" -> "ms",
      "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
      "bench.trace_overhead_pct" -> "%")
}
