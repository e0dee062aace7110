package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{SparkEntry, Tables}
import graft.dialect.{Parser, QueryRunner, Translator}
import graft.sources.{DetSource, Stats}

/** JVM side of the benchmark. run.py generates the inputs, starts this with
  *
  *   --workload serve|batch --inputs DIR --out DIR --seconds S
  *   --trace 0|1 --cores N [--queries q1,q2,...]
  *
  * and reads back `<out>/raw.json` (timings and counters), `<out>/spans.json`
  * (traced runs) and the per-workload result files it checks for
  * correctness. The engine is used only through its public entry points,
  * with the session configured as `graft.dialect.QueryRunner.main`
  * configures it: local[cores], shuffle partitions = cores, UTC, UI off.
  */
object Main {
  final case class Cfg(workload: String, inputs: Path, out: Path, seconds: Double,
      trace: Boolean, cores: Int, queries: Seq[String])

  /** Set-up is repeated this many times per run; run.py reports the median. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(kv("workload"), Paths.get(kv("inputs")), Paths.get(kv("out")),
      kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt,
      kv.get("queries").map(_.split(",").toSeq).getOrElse(Nil))
    Files.createDirectories(cfg.out)
    val w: Workload = cfg.workload match {
      case "serve" => new Serve(cfg)
      case "batch" => new Batch(cfg)
      case other => sys.error(s"unknown workload $other")
    }
    val setup = w.setup()
    w.prepare()
    // The untraced phase gives the end-to-end numbers. A traced run repeats
    // the phase with spans and Spark listeners on; the ratio of the two is
    // the tracing overhead.
    val untraced = measured(w.phase(new Tracer(false), None, "u"))
    val traced = if (!cfg.trace) None else {
      val tracer = new Tracer(true)
      val counters = SparkCounters.attach(w.sessions)
      val p = measured(w.phase(tracer, Some(counters), "t"))
      SparkCounters.drain(w.spark)
      Files.writeString(cfg.out.resolve("spans.json"), tracer.toJson)
      Some(p + ("counters" -> w.counters(counters)))
    }
    val retained = retainedMb()
    w.spark.stop()
    Files.writeString(cfg.out.resolve("raw.json"), Json.value(Map(
      "setup_s" -> setup, "untraced" -> untraced, "traced" -> traced,
      "retained_mb" -> retained, "peak_rss_mb" -> peakRssMb(), "cores" -> cfg.cores) ++ w.extra))
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `once` SetupRepeats times, each in a fresh session (the previous
    * one is stopped first), and returns the last session's state plus the
    * seconds each set-up took. */
  def timedSetups[S](cfg: Cfg)(once: SparkSession => S): (SparkSession, S, Seq[Double]) = {
    var last: (SparkSession, S) = null
    val secs = (1 to SetupRepeats).map { _ =>
      if (last != null) last._1.stop()
      val t0 = System.nanoTime()
      val spark = session(cfg.cores)
      last = (spark, once(spark))
      (System.nanoTime() - t0) / 1e9
    }
    (last._1, last._2, secs)
  }

  /** A phase's own result plus the GC and codegen work done during it. */
  def measured(phase: => Map[String, Any]): Map[String, Any] = {
    val gc0 = gcMs()
    val (cg0, cgNs0) = codegen()
    val p = phase
    val (cg1, cgNs1) = codegen()
    p ++ Map("gc_ms" -> (gcMs() - gc0), "codegen_compiles" -> (cg1 - cg0),
      "codegen_ms" -> (cgNs1 - cgNs0) / 1e6)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Heap and non-heap memory in use after full collections: what the
    * engine keeps (caches, compiled classes, catalog) once its work is done. */
  def retainedMb(): Double = {
    System.gc()
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Order-independent digest of a result: row count and the sum of the
    * rows' hash codes. Two runs of one text must give the same digest. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String =
    s"${rows.length}:${rows.iterator.map(_.hashCode.toLong).sum}"

  def error(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"
  }
}

/** One workload: set up (timed, repeated), prepare (untimed warm-up and
  * correctness dump), then one or two timed phases on the last session. */
trait Workload {
  def spark: SparkSession
  /** Every session the workload runs queries in. */
  def sessions: Seq[SparkSession] = Seq(spark)
  def setup(): Seq[Double]
  def prepare(): Unit
  /** Run for cfg.seconds; `tag` keeps the phases' outputs apart. */
  def phase(tracer: Tracer, counters: Option[SparkCounters], tag: String): Map[String, Any]
  /** Listener counters of a traced phase, drained. */
  def counters(c: SparkCounters): Map[String, Any]
  def extra: Map[String, Any] = Map.empty
}

/** Closed loop: `cores` client threads, each sending its next dialect text
  * only after the previous answer arrived. Texts come from the seeded pool
  * in the seeded (Zipf-skewed) stream order; a traced phase draws its own
  * pool and stream, so that it meets as many new texts as the untraced one. */
final class Serve(cfg: Main.Cfg) extends Workload {
  import Main._
  private val WarmupSeconds = 10.0
  private val dir = cfg.inputs.resolve("star").toString
  private def lines(name: String) = Files.readAllLines(cfg.inputs.resolve(name)).asScala.toIndexedSeq
  private val warmup = lines("warmup.txt")
  var spark: SparkSession = _
  private var tables: Map[String, DataFrame] = _
  private var tablesLoadMs = 0.0

  def setup(): Seq[Double] = {
    val (s, t, secs) = timedSetups(cfg) { spark =>
      val t0 = System.nanoTime()
      val tables = Tables.all.map(n => n -> Tables.load(spark, dir, n)).toMap
      tablesLoadMs = (System.nanoTime() - t0) / 1e6
      // one query per template, sent by `cores` clients at once as in the loop
      val clients = java.util.concurrent.Executors.newFixedThreadPool(cfg.cores)
      try warmup.map(t => clients.submit(() => Translator.build(spark, Parser.parse(t), tables).collect()))
        .foreach(_.get())
      finally clients.shutdown()
      tables
    }
    spark = s; tables = t
    secs
  }

  /** An untimed stretch of the closed loop on a pool of its own, so that
    * the JIT and Spark's caches are past their start-up before timing. */
  def prepare(): Unit = loop(new Tracer(false), None, "w", WarmupSeconds)

  override def extra: Map[String, Any] = Map("tables_load_ms" -> tablesLoadMs)

  def phase(tracer: Tracer, counters: Option[SparkCounters], tag: String): Map[String, Any] =
    loop(tracer, counters, tag, cfg.seconds)

  private def loop(tracer: Tracer, counters: Option[SparkCounters], tag: String,
      seconds: Double): Map[String, Any] = {
    val pool = lines(s"pool_$tag.txt")
    val stream = lines(s"stream_$tag.txt").map(_.toInt)
    final case class Rec(seq: Int, idx: Int, t0: Long, t1: Long, rows: Int, digest: String,
        error: String)
    val recs = new ConcurrentLinkedQueue[Rec]()
    // rows and digest of the first completed run of each text: run.py checks
    // the rows against DuckDB and every other run's digest against this one
    val firstRows = new java.util.concurrent.ConcurrentHashMap[Int, (Array[org.apache.spark.sql.Row], String)]()
    val next = new AtomicInteger(0)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val clients = (0 until cfg.cores).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val seq = next.getAndIncrement()
          val idx = stream(seq % stream.size)
          tracer.beginOp(spark, s"q$seq")
          val t0 = System.nanoTime()
          var rows: Array[org.apache.spark.sql.Row] = null
          val err = try {
            rows = tracer.span("query") {
              val q = tracer.span("dialect.parse")(Parser.parse(pool(idx)))
              val df = tracer.span("dialect.translate")(Translator.build(spark, q, tables))
              if (tracer.enabled) {
                tracer.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
                tracer.span("catalyst.physical")(df.queryExecution.executedPlan)
              }
              tracer.span("result.collect")(df.collect())
            }
            null
          } catch { case NonFatal(e) => error(e) }
          val t1 = System.nanoTime()
          val d = if (rows == null) null else digest(rows)
          if (rows != null) firstRows.putIfAbsent(idx, (rows, d))
          recs.add(Rec(seq, idx, t0, t1, if (rows == null) 0 else rows.length, d, err))
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val end = System.nanoTime()
    val results = cfg.out.resolve(s"serve_results_$tag.json")
    Files.writeString(results,
      Json.value(firstRows.asScala.map { case (i, (rows, _)) => i.toString -> rows.toSeq }.toMap))
    val perOp = counters.map { c => SparkCounters.drain(spark); c.perOp() }.getOrElse(Map.empty)
    Map(
      "wall_s" -> (end - start) / 1e9,
      "results" -> results.toString,
      "checked_digest" -> firstRows.asScala.map { case (i, (_, d)) => i.toString -> d }.toMap,
      "ops" -> recs.asScala.toSeq.sortBy(_.seq).map { r =>
        Map("seq" -> r.seq, "idx" -> r.idx, "ms" -> (r.t1 - r.t0) / 1e6, "rows" -> r.rows,
          "digest" -> r.digest, "error" -> r.error) ++
          perOp.get(s"q${r.seq}").map { case (jobs, tasks, runMs, busyMs) =>
            Map("jobs" -> jobs, "tasks" -> tasks, "task_ms" -> runMs, "busy_ms" -> busyMs)
          }.getOrElse(Map.empty)
      })
  }

  def counters(c: SparkCounters): Map[String, Any] = c.totals("q")
}

/** One client running a batch job. A phase is one pass: it loads a fresh
  * reference-format table set and then runs the report, a fixed list of
  * registered queries over the star tables, each into the `noop` sink.
  *
  * Loading is (a) converting every table to parquet the way
  * `graft.sources.DetLoader` does and (b) answering the set's query file
  * with the reference `QueryMain` shape of `QueryRunner.run`, which reads
  * the raw files. The load runs in a session of its own (same
  * SparkContext): `Stats.injectStatFile` turns CBO and join reordering on
  * for the session it is given, and the report, its correctness dump and
  * the set-up query all run in the main session with Spark's defaults.
  * Before timing, the report results are written to parquet for the DuckDB
  * oracle check and set 0 (a tenth-size set) is loaded; the untraced phase
  * loads set 1 and the traced phase set 2. */
final class Batch(cfg: Main.Cfg) extends Workload {
  import Main._
  private val dir = cfg.inputs.resolve("star").toString
  private val names = cfg.queries
  private val TablesIn = Seq("CUSTOMER", "CART", "CARTDETAILS", "BILL")
  private val sets = Files.list(cfg.inputs.resolve("ingest")).iterator().asScala.toSeq
    .sortBy(_.getFileName.toString.toInt)
  var spark: SparkSession = _
  private var loadSpark: SparkSession = _
  private var tablesLoadMs = 0.0
  private var dumpErrors = Map.empty[String, String]
  private var warm: Map[String, Any] = Map.empty

  def setup(): Seq[Double] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val (s, _, secs) = timedSetups(cfg) { spark =>
      val t0 = System.nanoTime()
      Tables.registerAll(spark, dir)
      tablesLoadMs = (System.nanoTime() - t0) / 1e6
      SparkEntry.queries(names.head)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    spark = s
    loadSpark = s.newSession()
    secs
  }

  override def sessions: Seq[SparkSession] = Seq(spark, loadSpark)

  /** Correctness dump, laid out as tools/check.py reads it, and set 0. */
  def prepare(): Unit = {
    val check = cfg.out.resolve("check")
    Files.createDirectories(check)
    Files.writeString(check.resolve("oracle_sql.json"),
      Json.value(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    dumpErrors = names.flatMap { n =>
      try {
        SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(check.resolve(n).toString)
        None
      } catch { case NonFatal(e) => Some(n -> error(e)) }
      finally spark.catalog.clearCache()
    }.toMap
    warm = load(0, new Tracer(false))
  }

  override def extra: Map[String, Any] =
    Map("tables_load_ms" -> tablesLoadMs, "dump_errors" -> dumpErrors, "warmup" -> warm)

  private def convert(ds: Path, to: Path, table: String): Unit =
    DetSource.readTxt(loadSpark, ds.resolve(s"$table.det").toString, ds.resolve(s"$table.txt").toString)
      .coalesce(1).write.mode("overwrite").parquet(to.resolve(s"$table.parquet").toString)

  private def load(i: Int, tracer: Tracer): Map[String, Any] = {
    val ds = sets(i)
    val conv = cfg.out.resolve(s"conv/$i")
    val result = cfg.out.resolve(s"result_$i.txt")
    val queryFile = ds.resolve("query.sql").toString
    tracer.beginOp(spark, s"i$i")
    val t0 = System.nanoTime()
    val convErr = try {
      tracer.span("sources.convert")(TablesIn.foreach(t => convert(ds, conv, t)))
      null
    } catch { case NonFatal(e) => error(e) }
    val t1 = System.nanoTime()
    val dbsBefore = loadSpark.catalog.listDatabases().collect().map(_.name).toSet
    val queryErr = try {
      if (!tracer.enabled) QueryRunner.run(loadSpark, Array(queryFile, result.toString))
      else tracer.span("query") {
        // QueryRunner.run's reference shape, call by call, so that each
        // layer gets its own span
        val tables = tracer.span("sources.load_tables")(QueryRunner.loadTables(loadSpark, ds.toString))
        val df = tracer.span("dialect.translate")(
          Translator.run(loadSpark, Files.readString(Paths.get(queryFile)), tables))
        tracer.beginOp(spark, s"i$i:result")
        val out = new java.io.PrintWriter(result.toString)
        try tracer.span("result.write")(QueryRunner.writeReferenceFormat(out, df))
        finally out.close()
      }
      null
    } catch { case NonFatal(e) => error(e) }
    val t2 = System.nanoTime()
    val traced: Map[String, Any] = if (!tracer.enabled) Map.empty else {
      // Stats.injectStatFile runs inside QueryRunner.loadTables; time it on
      // its own by re-injecting each .stat into the table QueryRunner made
      val db = (loadSpark.catalog.listDatabases().collect().map(_.name).toSet -- dbsBefore).headOption
      val injectMs = db.map { d =>
        TablesIn.map { t =>
          val s = System.nanoTime()
          Stats.injectStatFile(loadSpark, t, ds.resolve(s"$t.stat").toString, Some(d))
          (System.nanoTime() - s) / 1e6
        }.sum
      }.getOrElse(0.0)
      val parts = TablesIn.map(t => loadSpark.read.format("graft.sources.DetDataSource")
        .load(ds.resolve(t).toString).rdd.getNumPartitions)
      Map("stats_inject_ms" -> injectMs, "det_scan_partitions" -> parts)
    }
    Map("iter" -> i, "convert_ms" -> (t1 - t0) / 1e6, "query_ms" -> (t2 - t1) / 1e6,
      "ms" -> (t2 - t0) / 1e6, "convert_error" -> convErr, "query_error" -> queryErr,
      "conv_dir" -> conv.toString, "result" -> result.toString, "inputs" -> ds.toString) ++ traced
  }

  private def report(tracer: Tracer): Seq[Map[String, Any]] = names.map { n =>
    tracer.beginOp(spark, s"p:$n")
    val t0 = System.nanoTime()
    val err = try {
      tracer.span("query") {
        val df = tracer.span("queries.build")(SparkEntry.queries(n)(spark, dir))
        tracer.span("exec.noop")(df.write.format("noop").mode("overwrite").save())
      }
      null
    } catch { case NonFatal(e) => error(e) }
    val t1 = System.nanoTime()
    spark.catalog.clearCache() // as graft.Bench: no query sees another's cache
    Map("name" -> n, "ms" -> (t1 - t0) / 1e6, "error" -> err)
  }

  def phase(tracer: Tracer, counters: Option[SparkCounters], tag: String): Map[String, Any] = {
    val start = System.nanoTime()
    val loaded = load(if (tag == "t") 2 else 1, tracer)
    Map("load" -> loaded, "report" -> report(tracer), "wall_s" -> (System.nanoTime() - start) / 1e9)
  }

  def counters(c: SparkCounters): Map[String, Any] = {
    val perOp = c.perOp()
    def total(prefix: String, f: ((Long, Int, Long, Long)) => Long) =
      perOp.collect { case (op, v) if op.startsWith(prefix) => f(v) }.sum
    Map(
      "report" -> (Map("task_ms" -> total("p", _._3), "tasks" -> total("p", _._2.toLong),
        "jobs" -> total("p", _._1)) ++ c.totals("p")),
      "load" -> (Map("task_ms" -> total("i", _._3), "tasks" -> total("i", _._2.toLong),
        "jobs" -> total("i", _._1),
        "result_jobs" -> perOp.collect { case (op, v) if op.endsWith(":result") => v._1 }.sum,
        "actions_ms" -> c.actionNs().map { case (k, ns) => k -> ns / 1e6 }) ++ c.totals("i")))
  }
}
