package perfbench

import graft.GraftSession
import graft.operators.Caches
import graft.plans.GraftSql
import graft.sources.Tables
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark. `perfbench/run.py` builds this, generates
  * the data once, and calls
  *
  * {{{
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --sf SCALE
  *                  --data DIR --work DIR --out FILE
  *                  [--ops FILE] [--warmup FILE] [--prewarm FILE] [--known_wrong FILE]
  *   perfbench.Main --gen DIR --work DIR
  *   perfbench.Main --oracle FILE --work DIR
  * }}}
  *
  * A run sets up the session several times (each set-up timed, the
  * `--warmup` queries included), then runs the workload's ops (the names
  * in `--ops`) one after the other, each issued only after the previous
  * one completed, and writes every raw measurement to `--out` as one JSON
  * object. run.py turns that into metrics and checks results.
  *
  * Between set-up and the first op, untimed and outside any op, run the
  * statements in `--known_wrong` (answers known to differ from DuckDB's,
  * still checked in every run) and the queries in `--prewarm`. Both warm
  * the JIT for the ops: without them the first ops of a pass ran up to
  * 27% slower than their median, and the seeded order decided which ops
  * paid that (perfbench/README.md).
  */
object Main {
  val cores = Runtime.getRuntime.availableProcessors()
  val setupRounds = 3

  final case class OpRec(id: Int, name: String, pass: Int, startNs: Long, endNs: Long,
                         error: Option[String], rows: Long, digest: String, extra: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    if (args.contains("gen")) gen(args("gen"), work)
    else if (args.contains("oracle"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args("oracle")),
        Json(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).toMap))
    else {
      val out = new Run(args).execute()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), out)
    }
    System.exit(0)
  }

  def session(work: String): SparkSession = {
    val spark = GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Writes the benchmark's input tables (sf0.01 and sf0.1). */
  def gen(dir: String, work: String): Unit = {
    val spark = session(work)
    Seq("0.01", "0.1").foreach(sf => graft.tools.GenData.gen(spark, s"$dir/sf$sf", sf.toDouble))
    spark.stop()
  }

  /** Resident-set high-water mark of this JVM, in kB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}

final class Run(args: Map[String, String]) {
  import Main._

  private val workload = args("workload")
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val work = args("work")
  private val sfDir = s"${args("data")}/sf${args("sf")}"

  private val tracer = new Tracer(traced)
  private val probe = new Probe(tracer)
  private val ops = ArrayBuffer.empty[OpRec]
  private val record = mutable.LinkedHashMap.empty[String, Any]
  private var spark: SparkSession = _

  private def ms(ns: Long): Double = ns / 1e6
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, ms(System.nanoTime() - t0))
  }
  private def drain(): Unit = org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)

  private def permute[A](xs: Seq[A]): Seq[A] = new scala.util.Random(seed).shuffle(xs)

  // ---- set-up -----------------------------------------------------------

  private def setup(round: Int, extra: Int => Map[String, Double]): Map[String, Double] = {
    val (s, startMs) = timed(session(work))
    spark = s
    val (_, registerMs) = timed(Tables.registerAll(spark, sfDir))
    val (_, warmupMs) = timed {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.table("lineitem").selectExpr("sum(l_quantity)").collect()
      warmupOps.foreach { op => op.exec(); Caches.unpersistAll() }
    }
    Map("start_ms" -> startMs, "register_ms" -> registerMs, "warmup_ms" -> warmupMs) ++ extra(round)
  }

  private lazy val warmupOps: Seq[OpDef] =
    if (args.contains("warmup")) queryOps(names("warmup")) else Nil

  private def setupAll(extra: Int => Map[String, Double]): Unit = {
    // a round's total is the sum of its timed phases, not the work done
    // between them (the ingest split, which feeds the index build)
    val rounds = (0 until setupRounds).map { r =>
      val phases = setup(r, extra)
      if (r < setupRounds - 1) spark.stop()
      phases + ("total_ms" -> phases.values.sum)
    }
    record("setup") = rounds
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  // ---- query workloads ----------------------------------------------------

  private final case class OpDef(name: String, exec: () => Array[Row])

  /** A traced op calls the front-end's rewrite first, on its own, so its
    * cost shows as a span; `GraftSql.sql` then finds the rewrite memoized.
    */
  private def sqlOps(statements: Seq[(String, String)]): Seq[OpDef] = statements.map {
    case (name, sql) => OpDef(name, () => {
      if (tracer.enabled) tracer.span("plans", "rewrite")(GraftSql.rewrite(sql))
      val df = tracer.span("plans", "sql_call")(GraftSql.sql(spark, sql))
      tracer.span("exec", "collect")(df.collect())
    })
  }

  private def registryOps(defs: Seq[graft.QueryDef]): Seq[OpDef] = defs.map { q =>
    OpDef(q.name, () => {
      val df = tracer.span("operators", "build")(q.run(spark, sfDir))
      tracer.span("exec", "collect")(df.collect())
    })
  }

  private def runOp(op: OpDef, pass: Int): Unit = {
    val id = ops.size
    tracer.currentOp = id
    spark.sparkContext.setJobDescription(s"op $id ${op.name}")
    val t0 = tracer.nowNs
    val res = try Right(tracer.span("op", op.name)(op.exec())) catch { case e: Throwable => Left(e) }
    val t1 = tracer.nowNs
    val tracked = Caches.trackedCount
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Caches.unpersistAll()
    drain()
    val base = Map[String, Any]("tracked" -> tracked, "cached_bytes" -> cachedBytes)
    ops += (res match {
      case Right(rows) =>
        val (n, digest) = Digest.of(rows)
        OpRec(id, op.name, pass, t0, t1, None, n, digest, base)
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        OpRec(id, op.name, pass, t0, t1, Some(msg), 0L, "", base)
    })
    tracer.currentOp = -1
  }

  /** Runs the seed-ordered ops: one whole pass, then round the list again
    * until `seconds` is up.
    */
  private def runPasses(defs: Seq[OpDef]): Unit = {
    val order = permute(defs)
    val t0 = System.nanoTime()
    var i = 0
    while (i < order.size || ms(System.nanoTime() - t0) < seconds * 1000) {
      runOp(order(i % order.size), i / order.size)
      i += 1
    }
  }

  /** Names listed one per line in the file given as `--key`; all if absent. */
  private def names(key: String): String => Boolean = args.get(key) match {
    case Some(f) =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim).filter(_.nonEmpty).toSet finally src.close()
    case None => _ => true
  }

  private def oracleStatements: Seq[(String, String)] =
    graft.SparkEntry.registry.flatMap(q => q.oracle.map(q.name -> _)).sortBy(_._1)

  private def statements(keep: String => Boolean): Seq[OpDef] =
    sqlOps(oracleStatements.filter { case (n, _) => keep(n) })

  private def registry(defs: Seq[graft.QueryDef], keep: String => Boolean): Seq[OpDef] =
    registryOps(defs.filter(q => keep(q.name)).sortBy(_.name))

  /** The workload's query ops among the names `keep` accepts. */
  private def queryOps(keep: String => Boolean): Seq[OpDef] = workload match {
    case "sql_dialect" => statements(keep)
    case "pipelines_sf01" => registry(graft.queries.PipelineQueries.all, keep)
    case _ => Nil
  }

  /** The dialect front-end alone over every oracle statement of the
    * registry, accepted by the engine or not: time, input and output size.
    */
  private def rewriteCorpus(): Seq[Map[String, Any]] =
    oracleStatements.map {
      case (name, sql) =>
        val t0 = System.nanoTime()
        val out = try Some(GraftSql.rewrite(sql))
        catch { case scala.util.control.NonFatal(_) => None }
        Map("name" -> name, "ms" -> ms(System.nanoTime() - t0), "in" -> sql.length,
          "out" -> out.map(_.length))
    }

  /** Statements whose answers are known to differ from DuckDB's: each runs
    * once, and its row count and digest go to the record for run.py to
    * compare.
    */
  private def knownWrong(): Seq[Map[String, Any]] = {
    val keep = names("known_wrong")
    oracleStatements.filter { case (n, _) => keep(n) }.map { case (name, sql) =>
      try {
        val (n, digest) = Digest.of(GraftSql.sql(spark, sql).collect())
        Map("name" -> name, "rows" -> n, "digest" -> digest, "error" -> None)
      } catch {
        case scala.util.control.NonFatal(e) => Map("name" -> name, "rows" -> 0L, "digest" -> "",
          "error" -> Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    }
  }

  // ---- streaming ingest ---------------------------------------------------

  /** Streams the slice one file per op: the file is moved into the source
    * directory and the op ends when the query has processed everything
    * available. Afterwards checks the ingest invariants.
    */
  private def ingest(): Unit = {
    import org.apache.spark.sql.functions._
    val root = s"$work/ingest"
    val (staged, src, sink, state, ckpt) =
      (s"$root/staged", s"$root/src", s"$root/sink", s"$root/state", s"$root/ckpt")
    val (corpus, slice) = Ingest.split(spark, sfDir, seed)
    val (_, stageMs) = timed {
      slice.coalesce(1).write.partitionBy("_f").parquet(staged)
    }
    record("stage_inputs_ms") = stageMs
    new java.io.File(src).mkdirs()
    val files = (0 until Ingest.batches).flatMap { f =>
      Option(new java.io.File(s"$staged/_f=$f").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(f -> _)
    }
    val schema = spark.read.parquet(staged).drop("_f").schema
    val round = setupRounds - 1
    val q = graft.streaming.EventPipeline.corpusIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      "doc_id", "text", "source", "n_chars",
      corpus, spark.table(Ingest.bandsTable(round)), spark.table(Ingest.gramsTable(round)),
      Ingest.bench(corpus), "text", sink, state,
      spanK = 6, maxSpanTokens = 12, decontamN = 8, checkpoint = Some(ckpt))
    try files.foreach { case (f, file) =>
      runOp(OpDef(s"batch_file_$f", () => {
        java.nio.file.Files.move(file.toPath, java.nio.file.Paths.get(src, s"part-$f.parquet"))
        q.processAllAvailable()
        Array.empty[Row]
      }), 0)
    } finally q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    record("progress") = progress.map { p =>
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> tracer.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
        "durations" -> scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue })
    }
    // invariants of any seed: kept docs were streamed, kept texts are
    // distinct, each micro-batch committed exactly once, each streamed doc
    // read once
    val kept = graft.streaming.EventPipeline.annIndex(spark, sink)
    val keptN = kept.count()
    def names(dir: String, re: scala.util.matching.Regex): Seq[Long] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName).collect {
        case re(n) => n.toLong
      }.sorted
    val commits = names(s"$ckpt/commits", "(\\d+)".r)
    val sinkBatches = names(sink, "batch_(\\d+)".r)
    val streamed = slice.count()
    val (bytes, nFiles) = Seq(sink, state, ckpt).map(d => Ingest.treeBytes(new java.io.File(d)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    record("ingest") = Map(
      "streamed" -> streamed,
      "rows_read" -> progress.map(_.numInputRows).sum,
      "kept" -> keptN,
      "kept_not_streamed" -> kept.join(slice, Seq("doc_id"), "left_anti").count(),
      "kept_distinct_texts" -> kept.select(md5(col("text"))).distinct().count(),
      "commits" -> commits, "sink_batches" -> sinkBatches,
      "progress_batches" -> progress.map(_.batchId).sorted,
      "text_bytes" -> slice.agg(sum(length(col("text")))).head().getLong(0),
      "bytes_written" -> bytes, "files_written" -> nFiles)
  }

  // ---- run ----------------------------------------------------------------

  def execute(): String = {
    val setupExtra: Int => Map[String, Double] = workload match {
      case "corpus_ingest" => r => Ingest.buildIndex(spark, sfDir, seed, r)
      case _ => _ => Map.empty
    }
    setupAll(setupExtra)
    if (args.contains("known_wrong")) record("known_wrong") = knownWrong()
    if (args.contains("prewarm")) queryOps(names("prewarm")).foreach { op =>
      op.exec(); Caches.unpersistAll()
    }
    drain()
    if (workload == "corpus_ingest") ingest()
    else {
      val ops = queryOps(names("ops"))
      require(ops.nonEmpty, s"no ops for workload $workload")
      runPasses(ops)
    }
    drain()
    if (traced && workload == "sql_dialect") record("rewrite_corpus") = rewriteCorpus()
    // the kernels serve the query workloads; ingest's traced run skips them
    if (traced && workload != "corpus_ingest")
      record("kernels") = Kernels.run(spark, seed).map(k =>
        Map("name" -> k.name, "rows" -> k.rows, "ns_per_row" -> k.nsPerRow))
    record("peak_rss_kb") = peakRssKb()
    record("cores") = cores
    record("heap_max_mb") = Runtime.getRuntime.maxMemory() >> 20
    record("spark_version") = spark.version
    record("java_version") = System.getProperty("java.version")
    record("ops") = ops.map(o => Map("id" -> o.id, "name" -> o.name, "pass" -> o.pass,
      "start_ns" -> o.startNs, "end_ns" -> o.endNs, "error" -> o.error,
      "rows" -> o.rows, "digest" -> o.digest) ++ o.extra)
    record("work") = probe.ops.toSeq.sortBy(_._1).map { case (op, w) =>
      Map("op" -> op, "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "empty_tasks" -> w.emptyTasks, "failed_tasks" -> w.failedTasks, "run_ms" -> w.runMs,
        "cpu_ns" -> w.cpuNs, "gc_ms" -> w.gcMs, "sched_ms" -> w.schedMs,
        "shuffle_write" -> w.shWrite, "shuffle_read" -> w.shRead, "fetch_wait_ms" -> w.fetchWaitMs,
        "spill" -> w.spill, "input_bytes" -> w.inBytes, "input_rows" -> w.inRows,
        "peak_task_mem" -> w.peakMem, "skew_max" -> w.skewMax,
        "analysis_ms" -> w.analysisMs, "optimization_ms" -> w.optimizationMs,
        "planning_ms" -> w.planningMs, "bhj" -> w.bhj, "smj" -> w.smj,
        "aqe_coalesced" -> w.aqeCoalesced, "aqe_skew" -> w.aqeSkew, "scan_files" -> w.scanFiles,
        "scan_ms" -> w.scanMs, "task_intervals" -> w.taskIntervals.map { case (a, b) =>
          Seq(tracer.fromEpochMs(a), tracer.fromEpochMs(b)) })
    }
    if (traced) record("spans") = tracer.all.map(s =>
      Seq(s.id, s.parent, s.op, s.layer, s.name, s.startNs, s.endNs))
    spark.stop()
    Json(record)
  }
}
