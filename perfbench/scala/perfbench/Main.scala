package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.api.PipelineTasks
import graft.engine.QueryEngine
import graft.model.Schemas
import graft.sources.{LedgerTables, Maintenance}
import graft.streaming.LedgerStream

/** The ledger a client works on: a day-partitioned copy of the generated
  * ledger, a running deduplicating ingest stream into it, and the task API
  * over it. Every call goes through `call`, which times it, records it as
  * an op and keeps the state-changing ones in `log` for the end-state
  * check. */
final class LedgerClient(spark: SparkSession, inputs: String, dir: String, trace: Trace) {
  val path = s"$dir/ledger"
  private val src = Paths.get(s"$dir/ingest_src")
  val engine = new QueryEngine(spark)
  val tasks = new PipelineTasks(engine, () => LedgerTables.read(spark, path))
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val log = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]
  private var nextBatch = 0
  private var stream: StreamingQuery = _

  def create(): Unit = {
    val seed = spark.read.schema(Schemas.pipelineRunSchema).parquet(s"$inputs/ledger.parquet")
    // one file per day partition, as a freshly loaded table would have
    LedgerTables.write(seed.repartition(col("query_window_start_day")), path)
    Files.createDirectories(src)
    stream = LedgerStream.dedupedIngest(
        spark.readStream.schema(Schemas.pipelineRunSchema).parquet(src.toString))
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => LedgerStream.appendBatch(path)(b, id))
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
  }

  def stop(): Unit = if (stream != null) { stream.stop(); stream = null }

  /** Times `body` as one op; `rows` maps its result to rows returned.
    * Safe to call from several threads (the warm-up reads do). */
  def call[T](name: String, kind: String, extra: Map[String, Any] = Map.empty)(
      body: => T)(rows: T => Long): Option[T] = {
    val t0 = System.nanoTime()
    val out = try Right(trace.span(name, kind)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized {
      out match {
        case Right(v) =>
          ops += Map("name" -> name, "kind" -> kind, "ms" -> ms, "ok" -> true, "rows" -> rows(v)) ++ extra
          Some(v)
        case Left(e) =>
          ops += Map("name" -> name, "kind" -> kind, "ms" -> ms, "ok" -> false, "rows" -> 0L) ++ extra
          if (errors.size < 20) errors += s"$name: $e"
          None
      }
    }
  }

  def countByStatus(s: String) =
    call("count_by_status", "read")(tasks.countRecordsByPipelineStatus(s).value)(_ => 1L)
  def oldestByStatus(s: String) =
    call("oldest_by_status", "read")(tasks.getOldestRecordByStatus(s).value)(_.size.toLong)
  def latestByStatus(s: String) =
    call("latest_by_status", "read")(tasks.getLatestRecordByStatus(s).value)(_.size.toLong)
  def overlapForInput(p: String, i: String, start: String, end: String) =
    call("overlap_for_input", "read")(
      tasks.findOverlappingRecordsForInput(p, i, start, end).value)(_.size.toLong)
  def continuity(p: String, i: String, day: String) =
    call("continuity", "read")(tasks.getDiscontinuousQueryWindows(p, i, day).value)(
      _._2.size.toLong)
  def overlapWindows(p: String, i: String, day: String) =
    call("overlap_windows", "read")(tasks.findOverlappingQueryWindows(p, i, day).value)(
      _.size.toLong)
  def scalarMax(p: String) =
    call("scalar_max", "read")(engine.executeScalarQuery(
      s"SELECT MAX(query_window_end_ts) FROM parquet.`$path` WHERE pipeline_name = :p",
      Map("p" -> p)).data)(_ => 1L)

  /** Lands the next generated batch in the stream's source directory and
    * waits until the stream has appended it. */
  def ingest(): Unit = {
    val k = nextBatch
    nextBatch += 1
    val name = f"b$k%04d.parquet"
    val file = Paths.get(s"$inputs/batches/$name")
    call("ingest", "write", Map("batch" -> k, "user_b" -> Files.size(file))) {
      // hidden name first: the file source never sees a half-copied file
      val tmp = src.resolve(s".$name")
      Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      stream.processAllAvailable()
    }(_ => 0L).foreach(_ => log += Map("op" -> "ingest", "batch" -> k))
  }

  def update(p: String, day: String, status: String): Unit =
    call("update", "write", Map("pipeline" -> p, "day" -> day, "status" -> status)) {
      engine.executeDmlQuery(
        s"UPDATE parquet.`$path` SET pipeline_status = :s " +
          s"WHERE pipeline_name = :p AND query_window_start_day = DATE '$day'",
        Map("s" -> status, "p" -> p)).data
    }(identity).foreach { n =>
      log += Map("op" -> "update", "pipeline" -> p, "day" -> day, "status" -> status,
        "affected" -> n)
    }

  def compact(): Unit =
    call("compact", "maint")(Maintenance.compact(spark, path))(_.size.toLong)

  /** Day partitions and parquet files of the ledger as it is on disk. */
  def layout(): Map[String, Any] = {
    val parts = new java.io.File(path).listFiles().filter(f => f.isDirectory && f.getName.contains("="))
    val files = parts.flatMap(_.listFiles().filter(f => f.getName.endsWith(".parquet")))
    Map("partitions" -> parts.length, "files" -> files.length, "bytes" -> files.map(_.length).sum)
  }
}

/** Seed-drawn parameters for ledger calls. */
final class Params(seed: Long) {
  val rnd = new java.util.Random(seed * 1000003L + 17)
  private val days = 30
  def pipeline: String = f"pipe_${rnd.nextInt(24)}%02d"
  def index: String = s"idx_${rnd.nextInt(5)}"
  def status: String = Schemas.PipelineStatus.all(rnd.nextInt(4))
  def day: String = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(days).toLong).toString
  def window: (String, String) = {
    val s = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .plusDays(rnd.nextInt(days).toLong).plusMinutes(30L * rnd.nextInt(40))
    (s.toString, s.plusHours(4).toString)
  }
}

object Main {
  /** The curation step: the collapsed-twin pair (x38 and x158 compute the
    * same cleaned corpus; x158 first collapses exact duplicates, which is
    * what separates the two corpora) and one kernel-heavy prep census (x44
    * redaction). */
  val curationQueries: Seq[String] = Seq(
    "x38_dedup_corpus", "x158_dedup_corpus_collapsed", "x44_redact")

  /** Workload name -> corpus directory under the generated inputs. */
  val workloads: Map[String, String] = Map(
    "curation_dup" -> "dup", "curation_distinct" -> "distinct")

  /** The ledger client's calls in a timed phase, one letter per call: 12
    * reads (R, cycling through the seven read kinds), 2 ingests (I), one
    * UPDATE (U) and one compaction (C). A fixed cycle keeps the mix
    * identical from run to run and between the untraced and traced phases;
    * the seed draws the parameters. */
  val cycle = "RRRIRRRUCRRRIRRR"

  /** Ledger cycles in a timed phase of `seconds`: on a 4-vCPU host the
    * curation pass, the untimed ledger lead-in and a cycle take about 9, 3
    * and 7 s, so 30 s gives two cycles, whose six writes (four ingests, two
    * UPDATEs) and 24 reads feed the latency metrics. */
  def cycles(seconds: Double): Int = math.max(1, (seconds / 15).toInt)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val inputs = arg(args, "inputs")
    val work = arg(args, "work")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val out = arg(args, "out")
    val corpus = s"$inputs/${workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))}"

    // ---- set-up, three times: session, ledger write, ingest stream, corpus
    val trace = new Trace
    val params = new Params(seed)
    var spark: SparkSession = null
    var client: LedgerClient = null
    val setupS = (1 to 3).map { rep =>
      if (client != null) { client.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      client = new LedgerClient(spark, inputs, s"$work/rep$rep", trace)
      client.create()
      Seq("documents", "embeddings").foreach(t =>
        graft.sources.Tables.read(spark, corpus, t).limit(1).collect())
      (System.nanoTime() - t0) / 1e9
    }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup_reps_s" -> setupS)

    // ---- warm-up, untimed: one ledger call of each kind beside one cold
    // run of each query (each on its own thread, so plan compilation
    // overlaps), whose results are kept for the oracle check
    val results = s"$work/results"
    val resultErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val warmParts = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def timed(name: String)(body: => Unit): Unit = {
      val s = System.nanoTime()
      body
      warmParts.put(name, (System.nanoTime() - s) / 1e9)
    }
    val cold = curationQueries.map { q =>
      val t = new Thread(() => timed(q) {
        try SparkEntry.queries(q)(spark, corpus).coalesce(1).write.mode("overwrite")
          .parquet(s"$results/$q")
        catch { case e: Throwable => resultErrors.add(s"$q: $e") }
      })
      t.start()
      t
    }
    timed("ledger")(warmLedger(client, params))
    cold.foreach(_.join())
    result("warmup_parts_s") = scala.jdk.CollectionConverters.MapHasAsScala(warmParts).asScala.toMap
    result("warmup_s") = (System.nanoTime() - t0) / 1e9
    client.ops.clear()
    trace.clear()

    // ---- timed phases: untraced, then (with --trace 1) traced. The
    // measured work is fixed by `seconds`, so every run samples the same
    // calls: one steady pass of the curation step, then whole cycles of
    // ledger calls. Between the two, untimed, one ledger call of each kind:
    // without it the first calls after a pass ran up to 40 % slower than
    // the same calls a cycle later, and the first ingest was the run's
    // write tail.
    def phase(listen: Boolean): Map[String, Any] = {
      val counters = new Counters
      if (listen) counters.register(spark)
      client.ops.clear(); trace.clear()
      val t0 = System.nanoTime()
      val passes = Seq(curationPass(spark, corpus, trace))
      warmLedger(client, params)
      client.ops.clear(); trace.retain(_.kind == "query")
      val t1 = System.nanoTime()
      for (_ <- 1 to cycles(seconds)) {
        reads = 0
        cycle.foreach(ledgerCall(client, params, _))
      }
      val ledgerS = (System.nanoTime() - t1) / 1e9
      val base = Map[String, Any]("traced" -> listen, "ledger_s" -> ledgerS,
        "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "ops" -> client.ops.toList, "passes" -> passes)
      if (!listen) base
      else {
        counters.settle()
        counters.unregister(spark)
        base ++ Map("layers" -> Attribution(trace.all, counters, cores),
          "layout" -> client.layout())
      }
    }
    val phases = if (traced) Seq(phase(false), phase(true)) else Seq(phase(false))
    result("phases") = phases
    result("errors") = client.errors.toList

    // ---- correctness material, outside every timed region
    client.stop()
    result("fixed_reads") = fixedReads(client)
    result("op_log") = client.log.toList
    result("ledger_path") = client.path
    result("layout") = client.layout()
    result("results_dir") = results
    result("result_errors") = resultErrors.toArray.toSeq.map(_.toString)
    result("oracle_sql") = curationQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    result("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(out), new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(result))
    spark.stop()
  }

  /** One ingest, UPDATE and compaction, then one call of each read kind
    * (read-only, so split over two threads), so the timed calls run on
    * compiled paths. */
  private def warmLedger(c: LedgerClient, p: Params): Unit = {
    "IUC".foreach(ledgerCall(c, p, _))
    val readers = Seq(0 until 4, 4 until 7).map { kinds =>
      val params = new Params(kinds.head + 1000L)
      val t = new Thread(() => kinds.foreach(k => readCall(c, params, k)))
      t.start()
      t
    }
    readers.foreach(_.join())
  }

  private var reads = 0

  /** Read kinds in cycle order. The slowest kind (overlap windows, a
    * self-join) comes first, so a cycle's 12 reads hold two of it and their
    * p90 compares like with like from run to run. */
  private val readOrder = Seq(5, 0, 1, 2, 3, 4, 6)

  private def ledgerCall(c: LedgerClient, p: Params, kind: Char): Unit = kind match {
    case 'R' => readCall(c, p, readOrder(reads % 7)); reads += 1
    case 'I' => c.ingest()
    case 'U' => c.update(p.pipeline, p.day, p.status)
    case 'C' => c.compact()
  }

  private def readCall(c: LedgerClient, p: Params, kind: Int): Unit = kind match {
    case 0 => c.countByStatus(p.status)
    case 1 => c.oldestByStatus(p.status)
    case 2 => c.latestByStatus(p.status)
    case 3 => val (s, e) = p.window; c.overlapForInput(p.pipeline, p.index, s, e)
    case 4 => c.continuity(p.pipeline, p.index, p.day)
    case 5 => c.overlapWindows(p.pipeline, p.index, p.day)
    case _ => c.scalarMax(p.pipeline)
  }

  /** One steady pass over the query set, each query materialized through
    * the noop sink with the plan caches cleared first. */
  private def curationPass(spark: SparkSession, dir: String, trace: Trace): Map[String, Any] = {
    val walls = curationQueries.map { q =>
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"perfbench:$q")
      val t0 = System.nanoTime()
      trace.span(s"query.$q", "query") {
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      val w = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      q -> w
    }
    Map("wall_s" -> walls.map(_._2).sum, "queries" -> walls.toMap)
  }

  /** A fixed set of reads over the end state, compared with DuckDB; they
    * are independent, so they run concurrently. */
  private def fixedReads(c: LedgerClient): Map[String, Any] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val (p, i, day) = ("pipe_05", "idx_1", "2024-01-12")
    val (s, e) = ("2024-01-10T06:00:00", "2024-01-10T13:30:00")
    val reads = Seq[(String, () => Any)](
      "counts" -> (() => Seq("pending", "completed").map(st =>
        st -> c.tasks.countRecordsByPipelineStatus(st).value).toMap),
      "latest_pending" -> (() =>
        c.tasks.getLatestRecordByStatus("pending").value.map(_("record_id"))),
      "overlap_for_input" -> (() => Map("pipeline" -> p, "index" -> i, "start" -> s, "end" -> e,
        "ids" -> c.tasks.findOverlappingRecordsForInput(p, i, s, e).value
          .map(_("record_id").toLong).sorted)),
      "continuity" -> (() => {
        val (ok, gaps) = c.tasks.getDiscontinuousQueryWindows(p, i, day).value
        Map("pipeline" -> p, "index" -> i, "day" -> day, "continuous" -> ok,
          "gaps" -> gaps.map(g => Seq(g("missing_query_window_start_ts"),
            g("missing_query_window_end_ts"))))
      }),
      "scalar_max" -> (() => Map("pipeline" -> p, "max_end" -> c.engine.executeScalarQuery(
        s"SELECT MAX(query_window_end_ts) FROM parquet.`${c.path}` WHERE pipeline_name = :p",
        Map("p" -> p)).data.map(_.asInstanceOf[java.sql.Timestamp].toInstant.toString))))
    val running = reads.map { case (k, f) => k -> Future(f()) }
    running.map { case (k, f) =>
      k -> Await.result(f, scala.concurrent.duration.Duration(120, "s")) }.toMap
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
