package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftBridge
import graft.{Bench, SparkEntry}
import graft.core.Schemas
import graft.queries._
import graft.stages._

/** The JVM side of the benchmark: one warm JVM that times calls into the
  * program's public entry points and writes what it saw to
  * `<work>/harness.json` for `run.py` to check and summarize.
  *
  * Workloads:
  *  - `pipeline_full`: the five stage calls of `cli.Main`'s `pipeline`
  *    case, with the same arguments and trailing `count()`s, each pass in
  *    a fresh SparkSession (as each CLI process gets one) and from an
  *    empty output root.
  *  - `gates_board`: a fixed list of oracle gates, once each per pass in
  *    sorted order, through `SparkEntry.queries`, in one long-lived session
  *    that releases pins between gates as `Bench` does.
  *
  * The first pass is the warm-up. Measured passes follow until the
  * time budget is spent. With `trace=1`, measured passes run in the order
  * untraced, traced, traced, untraced (a [[Tracer]] listener attached to
  * the traced ones), which gives the per-layer counters and the tracing
  * overhead.
  *
  * Usage: `Harness key=value ...` with keys workload, work, seconds,
  * trace, cpus, stride, tables.
  */
object Harness {
  private val Features = Seq("action", Schemas.ObsStateStorage)
  private val Modules: Seq[(String, Seq[Q])] = Seq(
    "relational" -> Relational.all, "text" -> TextQueries.all,
    "dedup" -> DedupQueries.all, "similarity" -> SimilarityQueries.all,
    "streaming" -> StreamingQueries.all, "sampling" -> SamplingQueries.all,
    "corpus" -> CorpusQueries.all, "graph" -> GraphQueries.all,
    "curation" -> CurationQueries.all, "bpe" -> BpeQueries.all,
    "classifier" -> ClassifierQueries.all, "behavior" -> BehaviorQueries.all)
  private lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  final case class Call(span: Span, eagerS: Double, error: Option[String]) {
    def wallS: Double = (span.endMs - span.startMs) / 1e3
  }

  /** What one pass did: its calls, its checks' observations, and (traced
    * passes only) the Spark counters per call. */
  final case class Pass(index: Int, warmup: Boolean, traced: Boolean,
      calls: Seq[Call], obs: Map[String, Any], counters: Map[String, Counters]) {
    def passS: Double = calls.map(_.wallS).sum
  }

  /** Writes Scala maps, sequences and options; NaN as the bare `NaN`
    * that Python's json module reads as a float. */
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def writeJson(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(value))

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val bench = new Harness(args)
    val out = try bench.run() finally bench.close()
    writeJson(Paths.get(args("work"), "harness.json"), out)
  }
}

final class Harness(args: Map[String, String]) {
  import Harness._

  private val workload = args("workload")
  private val work = Paths.get(args("work")).toAbsolutePath.toString
  private val budgetS = args("seconds").toDouble
  private val traceMode = args("trace") == "1"
  private val cpus = args("cpus")
  private val runId = s"$workload-${System.currentTimeMillis()}"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var spark: SparkSession = _
  private var spanSeq = 0

  private def nextId(prefix: String): String = { spanSeq += 1; s"$runId/$prefix$spanSeq" }

  private def pipelineSession(): SparkSession = {
    // cli.Main's session (cli/Main.scala), with the master pinned to the
    // core count
    val s = SparkSession.builder().master(s"local[$cpus]").appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gateSession(): SparkSession = {
    // Bench's long-lived session (Bench.scala)
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Time one call under its own job group; failures are recorded, not
    * thrown. `body` returns the seconds spent before the call's lazy
    * result was first forced (the eager part). */
  private def call(passSpan: String, name: String, layer: String)
      (body: => Double): Call = {
    val id = nextId("call")
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val (eager, err) =
      try (body, None)
      catch { case NonFatal(e) => (Double.NaN, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val t1 = t0 + (System.nanoTime() - n0) / 1000000L
    sc.clearJobGroup()
    err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    val span = Span(id, name, layer, passSpan, runId, t0, t1)
    spans += span
    Call(span, eager, err)
  }

  private def secondsSince(n0: Long): Double = (System.nanoTime() - n0) / 1e9

  // --- pipeline -------------------------------------------------------------

  private val dataRoot = s"$work/corpus"
  private val outRoot = s"$work/out"

  /** The five stage calls of `cli.Main run(... "pipeline" ...)`, with the
    * return values the checks need. */
  private def pipelinePass(passSpan: String, obs: mutable.Map[String, Any]): Seq[Call] = {
    val manifest = s"$outRoot/manifest/episodes.parquet"
    val validateOut = s"$outRoot/validate"
    val statsOut = s"$outRoot/global_stats.json"
    val normDir = s"$outRoot/normalized"
    val matDir = s"$outRoot/dataset"
    Seq(
      call(passSpan, "discover", "discover") {
        val n0 = System.nanoTime()
        val delta = Discover.run(spark, dataRoot, manifest)
        val eager = secondsSince(n0)
        obs("discover.delta_rows") = delta.count()
        eager
      },
      call(passSpan, "validate", "validate") {
        val (total, ok, fail) = Validate.run(spark, manifest, s"$dataRoot/meta",
          validateOut, Validate.Config(fpsExpected = 30.0, frameTolerance = 2, skipVideo = true))
        obs("validate.totals") = Seq(total, ok, fail)
        obs("validate.episodes") = total
        Double.NaN
      },
      call(passSpan, "stats", "stats") {
        val gs = Stats.run(spark, s"$dataRoot/meta/episodes_stats.jsonl", statsOut,
          Features, Some(s"$validateOut/validated_episodes.jsonl"))
        obs("stats.episodes_used") = gs.episodesUsed
        obs("stats.total_frames") = gs.totalFrames
        obs("stats.mean") = Features.map(f => f -> gs.features(f).mean.toSeq).toMap
        obs("stats.std") = Features.map(f => f -> gs.features(f).std.toSeq).toMap
        Double.NaN
      },
      call(passSpan, "align_transform", "align_transform") {
        val written = AlignTransform.run(spark, s"$dataRoot/data", normDir,
          Some(statsOut), normalize = true)
        obs("align_transform.episodes") = written.size
        Double.NaN
      },
      call(passSpan, "materialize", "materialize") {
        val n0 = System.nanoTime()
        val index = Materialize.run(spark, normDir, matDir, Materialize.Config(
          seed = "42", train = 0.8, validation = 0.1, test = 0.1,
          videosRoot = Some(s"$dataRoot/videos"), linkVideos = "symlink"))
        val eager = secondsSince(n0)
        obs("materialize.episodes") = index.count()
        eager
      })
  }

  /** Untimed reads of the pass's outputs for the checks. */
  private def pipelineChecks(obs: mutable.Map[String, Any]): Unit = {
    def guarded(key: String)(f: => Any): Unit =
      try obs(key) = f catch { case NonFatal(e) => obs(key) = s"error: ${e.getMessage}" }
    guarded("manifest.status_counts") {
      spark.read.parquet(s"$outRoot/manifest/episodes.parquet").groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    guarded("normalized.files") {
      graft.io.Episodes.listEpisodeFiles(spark, s"$outRoot/normalized").size
    }
    guarded("materialize.split") {
      val idx = spark.read.parquet(s"$outRoot/dataset/dataset_index.parquet")
      val bySplit = idx.groupBy("split").agg(
        org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.sum(col("num_rows"))).collect()
      Map("episodes" -> bySplit.map(r => r.getString(0) -> r.getLong(1)).toMap,
        "frames" -> bySplit.map(r => r.getString(0) -> r.getLong(2)).toMap)
    }
    guarded("bytes_out")(treeBytes(Paths.get(outRoot)))
  }

  private def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .map(Files.size).sum
      finally s.close()
    }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  private def runPipeline(k: Int, warmup: Boolean, traced: Boolean): Pass = {
    // between passes, untimed: an empty output root, then a fresh session,
    // as a new CLI process gets
    deleteTree(Paths.get(outRoot))
    spark = pipelineSession()
    val obs = mutable.Map.empty[String, Any]
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val passId = nextId("pass")
    val t0 = System.currentTimeMillis()
    val calls = pipelinePass(passId, obs)
    spans += Span(passId, s"pass-$k", "pass", "", runId, t0, calls.last.span.endMs)
    val counters = drain(tracer, calls)
    pipelineChecks(obs)
    obs ++= cacheState()
    Pass(k, warmup, traced, calls, obs.toMap, counters)
  }

  private def drain(tracer: Option[Tracer], calls: Seq[Call]): Map[String, Counters] =
    tracer.map { t =>
      GraftBridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
      spark.sparkContext.removeSparkListener(t)
      t.attribute(calls.map(_.span))
    }.getOrElse(Map.empty)

  private def cacheState(): Map[String, Any] = {
    val sc = spark.sparkContext
    Map("pins_live" -> sc.getPersistentRDDs.size,
      "cached_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  // --- gates ----------------------------------------------------------------

  /** The board: from each module, every `stride`-th gate in name order,
    * starting with the first, so every module is on it. */
  private lazy val gates: Seq[String] = {
    val stride = args("stride").toInt
    Modules.flatMap { case (_, qs) =>
      qs.map(_.name).sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
    }.sorted
  }
  private val tables = Paths.get(args("tables")).toAbsolutePath.toString
  private val reference = mutable.Map.empty[String, String]

  private def digest(rows: Array[Row]): (String, Long) = {
    val lines = rows.map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString, lines.map(_.length.toLong + 1).sum)
  }

  private def runGates(k: Int, warmup: Boolean, traced: Boolean): Pass = {
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val passId = nextId("pass")
    val t0 = System.currentTimeMillis()
    val obs = mutable.Map.empty[String, Any]
    var resultBytes = 0L
    val mismatched = mutable.ArrayBuffer.empty[String]
    val calls = gates.map { name =>
      val gate = SparkEntry.queries(name)
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      val c = call(passId, name, s"queries.${moduleOf(name)}") {
        val n0 = System.nanoTime()
        val df: DataFrame = gate(spark, tables)
        val eager = secondsSince(n0)
        schema = df.schema
        rows = df.collect()
        eager
      }
      // after the clock stops, as Bench does
      graft.ops.Pins.releaseAll(spark)
      if (rows != null) {
        val (hash, bytes) = digest(rows)
        resultBytes += bytes
        if (k == 0) {
          reference(name) = hash
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$work/verify/$name")
        } else if (!reference.get(name).contains(hash)) mismatched += name
      }
      c
    }
    spans += Span(passId, s"pass-$k", "pass", "", runId, t0, calls.last.span.endMs)
    val counters = drain(tracer, calls)
    obs("rows_mismatched") = mismatched.toSeq
    obs("result_bytes") = resultBytes
    obs ++= cacheState()
    Pass(k, warmup, traced, calls, obs.toMap, counters)
  }

  private def writeOracle(): Unit = {
    val sql = SparkEntry.oracleSql
    writeJson(Paths.get(work, "verify", "oracle_sql.json"),
      gates.flatMap(g => sql.get(g).map(g -> _)).toMap)
  }

  // --- run loop -------------------------------------------------------------

  def run(): Map[String, Any] = {
    val host0 = Bench.hostStat()
    val one: (Int, Boolean, Boolean) => Pass = workload match {
      case "pipeline_full" =>
        (k, w, t) => {
          if (spark != null) spark.stop()
          runPipeline(k, w, t)
        }
      case "gates_board" =>
        spark = gateSession()
        (k, w, t) => runGates(k, w, t)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // warm-up: one pass
    val warmups = 1
    val passes = mutable.ArrayBuffer.empty[Pass]
    passes += one(0, true, false)
    if (workload == "gates_board") writeOracle()
    val setupDoneMs = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var k = warmups
    // measure whole passes until the budget is spent, at least two; with
    // tracing, at least four in the order untraced, traced, traced,
    // untraced, so that passes still speeding up bias neither kind
    val minPasses = if (traceMode) 4 else 2
    while (k < warmups + minPasses || secondsSince(n0) < budgetS) {
      passes += one(k, false, traceMode && Set(1, 2).contains((k - warmups) % 4))
      k += 1
    }
    val measuredS = secondsSince(n0)
    val heapMb = heapAfterGcMb()
    val host1 = Bench.hostStat()
    val spansPath = Paths.get(work, "spans.json")
    writeJson(spansPath, spans.toSeq.map(s => Map("id" -> s.id,
      "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Map(
      "workload" -> workload, "run" -> runId, "setup_done_ms" -> setupDoneMs,
      "gates" -> (if (workload == "gates_board") gates else Nil),
      "measured_s" -> measuredS, "heap_mb" -> heapMb,
      "bytes_in" -> treeBytes(Paths.get(if (workload == "gates_board") tables else dataRoot)),
      "host" -> Map("steal_pct" -> Bench.stealPctOf(host0, host1),
        "load1_start" -> host0.map(_._3), "load1_end" -> host1.map(_._3)),
      "passes" -> passes.toSeq.map(passJson))
  }

  /** JVM heap in use after a full GC: the least of three samples. The
    * pause after each GC lets Spark's ContextCleaner drop the blocks of
    * the broadcasts and RDDs that GC found unreachable. */
  private def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "index" -> p.index, "warmup" -> p.warmup, "traced" -> p.traced,
    "pass_s" -> p.passS, "obs" -> p.obs,
    "calls" -> p.calls.map(c => Map("name" -> c.span.name, "layer" -> c.span.layer,
      "wall_s" -> c.wallS, "eager_s" -> Some(c.eagerS).filterNot(_.isNaN),
      "error" -> c.error)),
    "counters" -> p.calls.flatMap(c => p.counters.get(c.span.id).map { x =>
      Map("layer" -> c.span.layer, "jobs" -> x.jobs,
        "single_task_stages" -> x.singleTaskStages, "tasks" -> x.tasks,
        "shuffle_write" -> x.shuffleWrite, "input" -> x.input, "output" -> x.output,
        "spill" -> x.spill, "cpu_ns" -> x.cpuNs, "gc_ms" -> x.gcMs)
    }))

  def close(): Unit = if (spark != null) {
    // the same orderly teardown as Bench: no streaming or state-store
    // thread may outlive the session
    spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    try GraftBridge.stopStateStore() catch { case NonFatal(_) => () }
    spark.stop()
  }
}
