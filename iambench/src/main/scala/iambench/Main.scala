package iambench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.gremlin.GremlinLite
import graft.sources.{GraphStorage, GroovyLoader}

/** One benchmark run: one workload on one seeded organisation, in this
  * JVM, under a fresh working directory.
  *
  * {{{
  * iambench.Main --workload iam_lookup|iam_reach --seed N
  *               --seconds S --trace 0|1 --dir WORKDIR
  * }}}
  *
  * Prints, as its last line, one JSON object: correct, attempted, failed
  * and the metrics (end-to-end with --trace 0, per-layer with --trace 1).
  * With --trace 1 every span is printed before it, one JSON line each.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: File)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", new File(need("dir")))
  }

  val Workloads: Seq[String] = Seq("iam_lookup", "iam_reach")

  def main(argv: Array[String]): Unit = {
    val run = new Run(parse(argv))
    val out = run.execute()
    println(out)
    System.out.flush()
  }
}

/** Metric value with its unit, as the result line prints it. */
final case class Metric(value: Double, unit: String)

final class Run(args: Main.Args) {
  import Run._

  private val trace = new Trace(args.trace)
  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** Run one operation: a throw counts as a failed operation. */
  private def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(trace.op(name)(body))
    catch { case NonFatal(e) => fail(s"$name: $e"); None }
  }

  /** Record a mismatch found by [[Checks]] as a failed operation. */
  private def expect(mismatch: Option[String]): Unit = mismatch.foreach(fail)

  private def e2e(name: String, value: Double, unit: String): Unit =
    if (!args.trace) metrics(name) = Metric(value, unit)
  /** A per-layer metric; a layer that did no work reads 0. */
  private def layer(name: String, value: Double, unit: String): Unit =
    if (args.trace) metrics(name) = Metric(if (value.isNaN) 0 else value, unit)
  private def layer(name: String, count: Long, unit: String): Unit = layer(name, count.toDouble, unit)

  private val dir = args.dir
  private def sub(name: String) = new File(dir, name)

  private var groovyBytes = 0L
  // Per-layer counts the workloads fill in; zero where a layer is idle.
  private var diskLookupsDone, consoleQueriesDone, resultRows = 0L
  private var rowsOffered, rowsAppended, filesWritten, storeBytes = 0L
  private var stealShare = Double.NaN
  /** Time of each complete round of the workload's operations. */
  private val roundS = ArrayBuffer.empty[Double]
  /** Traced runs: vertices and edges each `groovy.load` span parsed. */
  private val parsed = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]

  def execute(): String = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = trace.span("setup.session") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"iambench-${args.workload}")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", sub("spark-local").toString)
        .config("spark.sql.warehouse.dir", sub("warehouse").toString)
        // A guard on recursion volume, not a semantics switch: the level-
        // bounded recursion below emits a few million rows in all.
        .config("spark.sql.cteRecursionRowLimit", "1000000000")
        // Traced runs: sample executor memory every 100 ms, so each task's
        // peak storage memory is measured; by default it is sampled only
        // at executor heartbeats and a short task reads 0.
        .config("spark.executor.metrics.pollingInterval", if (args.trace) "100ms" else "0")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark.sparkContext)

    val inputs = trace.span("setup.generate") {
      val in = new Inputs(Generator.generate(args.seed), args.seed)
      val baseBytes = in.writeBase(sub("main-groovy"))
      val deltaBytes = in.writeDelta(sub("main-delta"))
      in.writeStreams(sub("streams"))
      groovyBytes = baseBytes + deltaBytes
      in
    }

    val workload = args.workload match {
      case "iam_lookup" => new LookupWorkload(spark, inputs)
      case "iam_reach" => new ReachWorkload(spark, inputs)
    }
    workload.setup()
    val gc0 = gcMillis()
    val steal0 = stealTicks()
    val setupSeconds = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    trace.span("window")(workload.window(System.nanoTime() + args.seconds * 1000000000L))
    val gcSeconds = (gcMillis() - gc0) / 1e3
    stealShare = (stealTicks() - steal0) / (cpus * 100.0 * trace.last.seconds)
    System.err.println(f"host: cpu_steal=$stealShare%.4f window_s=${trace.last.seconds}%.3f")
    System.err.println(workload.opMedians.map { case (k, v) => f"$k=$v%.4f" }
      .mkString(s"ops: rounds=${roundS.size} median_s ", " ", ""))
    filesWritten = dataFiles(workload.store)
    storeBytes = dataBytes(workload.store)
    trace.span("check")(workload.check())

    workload.report()
    e2e("setup_s", setupSeconds, "s")
    e2e("round_s", median(roundS), "s")
    e2e("store_bytes_per_input_byte", storeBytes.toDouble / groovyBytes, "ratio")
    e2e("peak_rss_mb", peakRssMb(), "MB")
    if (args.trace) traceReport(gcSeconds)
    spark.stop()

    if (failures.nonEmpty) System.err.println(failures.mkString("failed: ", "\n  ", ""))
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""" }.mkString(", ")
    val spans = if (args.trace) trace.all.sortBy(_.id).map(_.json).mkString("", "\n", "\n") else ""
    spans + s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  // ------------------------------------------------------------------ layers

  private def ingest(spark: SparkSession, groovyDir: File, store: File): Unit = {
    val (v, e) = load(spark, groovyDir)
    trace.span("storage.write")(GraphStorage.write(PropertyGraph(v, e), store.toString))
  }

  private def merge(spark: SparkSession, groovyDir: File, store: File): Unit = {
    val (v, e) = load(spark, groovyDir)
    trace.span("storage.merge")(GraphStorage.merge(spark, store.toString, v, e))
  }

  /** `GroovyLoader.load` returns lazy batches over a persisted parse, which
    * the first write or merge would run. A traced run counts both batches
    * inside this span, so the parse is timed as the loader's layer and the
    * storage spans read the cached parse; an untraced run leaves the parse
    * lazy, as a user's program would. */
  private def load(spark: SparkSession, groovyDir: File): (DataFrame, DataFrame) = {
    val (v, e, counts) = trace.span("groovy.load") {
      val (v, e) = GroovyLoader.load(scripts(spark, groovyDir), Org.KeyProps)
      (v, e, if (trace.enabled) Some((v.count(), e.count())) else None)
    }
    counts.foreach(parsed(trace.last.id) = _)
    (v, e)
  }

  /** The seven scripts, one chunk each: the reference's interchange unit. */
  private def scripts(spark: SparkSession, groovyDir: File) = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(groovyDir.toString).as[String]
  }

  private def takeCensus(spark: SparkSession, store: File): (PropertyGraph, Long, Long) =
    trace.span("storage.load") {
      val g = GraphStorage.load(spark, store.toString)
      (g, g.vertices.count(), g.edges.count())
    }

  /** A small organisation of the same shape, written for warm-up. */
  private def warmInputs(): Inputs = {
    val small = new Inputs(Generator.generate(args.seed + 1, Generator.Small), args.seed + 1)
    small.writeBase(sub("warm-groovy"))
    small.writeDelta(sub("warm-delta"))
    small
  }

  // --------------------------------------------------------------- workloads

  private trait Workload {
    def setup(): Unit
    def window(deadline: Long): Unit
    def check(): Unit
    def report(): Unit
    /** The merged store the workload's questions are asked of. */
    def store: File
    /** Median time of each kind of timed operation, in seconds. */
    def opMedians: Seq[(String, Double)]
  }

  private def over(deadline: Long) = System.nanoTime() >= deadline

  /** The analyst's session, round after round: ingest the seven scripts
    * of an extraction into a fresh store, merge the re-extraction, load
    * the merged at-rest store, then a closed loop with one client that
    * alternates Gremlin console queries and fluent point lookups on it. */
  private final class LookupWorkload(spark: SparkSession, in: Inputs) extends Workload {
    private val stores = ArrayBuffer.empty[File]
    private var graph: PropertyGraph = _
    private val ingestS, mergeS, serveS = ArrayBuffer.empty[Double]
    private val lookups = ArrayBuffer.empty[(Inputs.DiskLookup, Array[Row], Double)]
    private val answers = ArrayBuffer.empty[(Inputs.ConsoleQuery, Array[Row], Double)]

    /** Every code path once, on a small organisation of the same shape,
      * so the timed operations run on a warm JVM. */
    def setup(): Unit = trace.span("setup.warmup") {
      val small = warmInputs()
      ingest(spark, sub("warm-groovy"), sub("warm-store"))
      merge(spark, sub("warm-delta"), sub("warm-store"))
      val g = GraphStorage.load(spark, sub("warm-store").toString)
      small.diskLookups.take(WarmupQueries).foreach(d => g.lookup(d.label, d.key).collect())
      small.console.take(WarmupQueries).foreach(q => console(g, q).collect())
    }

    private def console(g: PropertyGraph, q: Inputs.ConsoleQuery): DataFrame =
      GremlinLite.run(g, q.text, q.bindings, Org.KeyProps)

    /** One round; its time, or None if an operation in it failed. Each
      * round's extraction goes to a store of its own, checked by a census
      * after the window; the replay check uses the last round's store. */
    private def round(): Option[Double] = {
      val to = sub(s"main-store-${stores.size + 1}")
      stores += to
      val built = for {
        _ <- attempt("ingest")(ingest(spark, sub("main-groovy"), to)).map(_ => ingestS += lastOp)
        _ <- attempt("merge")(merge(spark, sub("main-delta"), to)).map(_ => mergeS += lastOp)
        g <- attempt("serve")(trace.span("storage.load")(GraphStorage.load(spark, to.toString)))
      } yield { serveS += lastOp; graph = g; ingestS.last + mergeS.last + lastOp }
      built.flatMap { t0 =>
        var t = t0
        var ok = true
        for (_ <- 0 until QueriesPerRound) {
          val q = in.console(answers.size % in.console.length)
          attempt("console") {
            val df = trace.span("gremlin.run")(console(graph, q))
            trace.span("query.exec")(df.collect())
          } match {
            case Some(rows) => answers += ((q, rows, lastOp)); t += lastOp
            case None => ok = false
          }
          val d = in.diskLookups(lookups.size % in.diskLookups.length)
          attempt("disk_lookup")(trace.span("storage.lookup")(graph.lookup(d.label, d.key).collect())) match {
            case Some(rows) => lookups += ((d, rows, lastOp)); t += lastOp
            case None => ok = false
          }
        }
        if (ok) Some(t) else None
      }
    }

    def window(deadline: Long): Unit = rounds(LookupRounds, deadline)(round())

    private def whole = (in.org.n.toLong, in.org.m.toLong)

    def check(): Unit = {
      for (s <- stores if s.exists; (_, nv, ne) <- attempt("census")(takeCensus(spark, s))) {
        expect(Checks.census(s"census after merge into ${s.getName}", (nv, ne), whole))
        rowsOffered = in.deltaVertices + in.deltaEdges
        rowsAppended = nv - in.baseVertices + ne - in.baseEdges
      }
      lookups.foreach { case (d, rows, _) =>
        expect(Checks.same(s"lookup ${d.label}/${d.key}",
          rows.toSeq.map(vertexLine), d.expect.map(in.vertexLine).toSeq))
      }
      answers.foreach { case (q, rows, _) =>
        val got = rows.toSeq.map(r =>
          if (q.shape == "out_valueMap") vertexLine(r) else r.toSeq.mkString("=")).sorted
        expect(Checks.same(q.text, got, q.expect))
      }
      // A second replay of the same delta must append nothing.
      if (graph != null) attempt("replay") {
        merge(spark, sub("main-delta"), stores.last)
        takeCensus(spark, stores.last)
      }.foreach { case (_, nv, ne) => expect(Checks.census("census after replay", (nv, ne), whole)) }
    }

    def store: File = stores.lastOption.orNull

    def opMedians: Seq[(String, Double)] = Seq("ingest" -> ingestS, "merge" -> mergeS,
      "serve" -> serveS, "console" -> answers.map(_._3), "disk_lookup" -> lookups.map(_._3))
      .map { case (k, xs) => k -> median(xs) }

    def report(): Unit = {
      diskLookupsDone = lookups.size
      consoleQueriesDone = answers.size
    }
  }

  /** The flagship question, asked three ways of the merged store: a
    * GremlinLite repeat/until walk from a batch of principals, the
    * whole-graph closure(), and the same closure in Spark SQL. */
  private final class ReachWorkload(spark: SparkSession, in: Inputs) extends Workload {
    private var graph: PropertyGraph = _
    private val reachS, closureS, sqlS = ArrayBuffer.empty[Double]
    private val reached = ArrayBuffer.empty[Set[Long]]
    private val closures, sqls = ArrayBuffer.empty[Row]

    val store: File = sub("main-store")

    /** The store, and a temp view of its edges for the SQL question.
      * Building it is the JVM's first Spark work; the three questions
      * have no warm-up of their own, as the window's median discounts a
      * slower first round. */
    def setup(): Unit = trace.span("setup.store_build") {
      ingest(spark, sub("main-groovy"), store)
      merge(spark, sub("main-delta"), store)
      graph = GraphStorage.load(spark, store.toString)
      graph.edges.filter(col("label") === "in").select(col("src"), col("dst"))
        .createOrReplaceTempView(EdgeView)
    }

    private def reach(): Set[Long] = {
      val df = trace.span("traversal.call")(
        GremlinLite.run(graph, in.reachBatch.text, Map.empty, Org.KeyProps))
      trace.span("traversal.readout")(df.collect().map(_.getLong(0)).toSet)
    }

    private def closure(): Row = {
      val c = trace.span("traversal.call")(graph.closure())
      trace.span("traversal.readout")(Checks.digestOf(c, "origin", "node"))
    }

    private def sql(): Row =
      trace.span("sql.recursive")(spark.sql(in.reachSql(EdgeView)).head())

    /** One round: the three questions; its time, or None if one failed. */
    private def round(): Option[Double] = {
      val r = attempt("reach_batch")(reach()).map { ids => reached += ids; reachS += lastOp; lastOp }
      val c = attempt("closure")(closure()).map { row => closures += row; closureS += lastOp; lastOp }
      val q = attempt("sql_reach")(sql()).map { row => sqls += row; sqlS += lastOp; lastOp }
      for (a <- r; b <- c; d <- q) yield a + b + d
    }

    def window(deadline: Long): Unit = rounds(ReachRounds, deadline)(round())

    def check(): Unit = {
      reached.foreach(ids => expect(Checks.same("reach batch", ids, in.reachBatch.expect)))
      closures.foreach(r => expect(Checks.digest("closure()", r, in.closure)))
      sqls.foreach(r => expect(Checks.digest("WITH RECURSIVE", r, in.closure)))
    }

    def opMedians: Seq[(String, Double)] =
      Seq("reach_batch" -> reachS, "closure" -> closureS, "sql_reach" -> sqlS)
        .map { case (k, xs) => k -> median(xs) }

    def report(): Unit =
      resultRows = reached.map(_.size.toLong).sum + closures.map(_.getLong(0)).sum
  }

  /** Rounds until the window has closed and at least `least` rounds ran.
    * A round's time is the sum of its operations' times. */
  private def rounds(least: Int, deadline: Long)(round: => Option[Double]): Unit = {
    var n = 0
    while (n < least || !over(deadline)) {
      round.foreach(roundS += _)
      n += 1
    }
  }

  /** Duration of the operation that just ended. */
  private def lastOp: Double = trace.last.seconds

  // ------------------------------------------------------------------- trace

  private def traceReport(gcSeconds: Double): Unit = {
    val spans = trace.all
    val win = spans.find(_.name == "window").get
    val inWindow = spans.filter(s => s.startNs >= win.startNs && s.endNs <= win.endNs && s.id != win.id)
    val ops = inWindow.filter(_.parent == win.id).map(_.id).toSet
    val leaves = inWindow.filter(s => ops(s.parent))
    def named(n: String) = leaves.filter(_.name == n)
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def setup(n: String) = spans.filter(_.name == n).map(_.seconds).sum

    layer("setup.session_s", setup("setup.session"), "s")
    layer("setup.generate_s", setup("setup.generate"), "s")
    layer("setup.store_build_s", setup("setup.store_build"), "s")
    layer("setup.warmup_s", setup("setup.warmup"), "s")

    val loads = named("groovy.load")
    val loaded = loads.flatMap(s => parsed.get(s.id))
    layer("groovy.parse_s", secs(loads), "s")
    layer("groovy.statements", loaded.map(c => c._1 + c._2).sum, "count")
    layer("groovy.vertices_out", loaded.map(_._1).sum, "count")
    layer("groovy.edges_out", loaded.map(_._2).sum, "count")

    val writes = named("storage.write")
    val merges = named("storage.merge")
    val reads = named("storage.load") ++ named("storage.lookup")
    val readCounts = trace.counts(reads)
    layer("storage.write_s", secs(writes), "s")
    layer("storage.bytes_written", trace.counts(writes ++ merges).outputBytes, "bytes")
    layer("storage.files_written", filesWritten, "count")
    layer("storage.merge_s", secs(merges), "s")
    layer("storage.merge_rows_offered", rowsOffered, "count")
    layer("storage.merge_rows_appended", rowsAppended, "count")
    layer("storage.lookups", diskLookupsDone, "count")
    layer("storage.load_s", secs(reads), "s")
    layer("storage.scan_files_read", readCounts.scanFiles, "count")
    layer("storage.scan_bytes_read", readCounts.scanBytes, "bytes")

    val lowers = named("gremlin.run").map(_.seconds * 1e3)
    layer("gremlin.lower_ms", percentile(lowers, 0.5), "ms")
    layer("gremlin.queries", consoleQueriesDone, "count")
    layer("query.exec_ms", percentile(named("query.exec").map(_.seconds * 1e3), 0.5), "ms")

    val all = trace.counts(inWindow)
    layer("spark.analysis_ms", all.analysisMs, "ms")
    layer("spark.optimization_ms", all.optimizationMs, "ms")
    layer("spark.planning_ms", all.planningMs, "ms")
    layer("spark.jobs", all.jobs, "count")
    layer("spark.stages", all.stages, "count")
    layer("spark.tasks", all.tasks, "count")
    layer("spark.task_busy_s", all.busyMs / 1e3, "s")
    layer("spark.scheduler_delay_s", all.schedulerDelayMs / 1e3, "s")
    layer("spark.tasks_failed", all.tasksFailed, "count")
    layer("spark.gc_s", gcSeconds, "s")
    layer("spark.storage_mem_peak_bytes", all.storageMemPeak, "bytes")

    val tcall = named("traversal.call")
    val tread = named("traversal.readout")
    val tc = trace.counts(tcall ++ tread)
    layer("traversal.call_s", secs(tcall), "s")
    layer("traversal.readout_s", secs(tread), "s")
    layer("traversal.jobs", tc.jobs, "count")
    layer("traversal.tasks", tc.tasks, "count")
    layer("traversal.shuffle_write_bytes", tc.shuffleWriteBytes, "bytes")
    layer("traversal.spill_bytes", tc.spillBytes, "bytes")
    layer("traversal.result_rows", resultRows, "count")

    val rec = named("sql.recursive")
    val rc = trace.counts(rec)
    layer("sql.recursive_s", secs(rec), "s")
    layer("sql.recursive_jobs", rc.jobs, "count")
    layer("sql.recursive_tasks", rc.tasks, "count")

    layer("host.cpu_steal", stealShare, "ratio")
    layer("trace.coverage", secs(leaves) / win.seconds, "ratio")
    layer("trace.spans", spans.size, "count")
  }
}

object Run {
  /** Least rounds per run of each workload; `round_s` is their median. */
  val LookupRounds = 3
  val ReachRounds = 2
  /** Console queries, and as many point lookups, in one `iam_lookup` round. */
  val QueriesPerRound = 10
  val EdgeView = "iam_edges"
  val WarmupQueries = 3

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile; NaN when there is no sample. */
  def percentile(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def vertexLine(r: Row): String =
    Inputs.vertexLine(r.getLong(0), r.getString(1), r.getString(2), r.getMap[String, String](3))

  /** Bytes of the store's data files (parquet), without checksums and
    * markers. */
  def dataBytes(store: File): Long = dataFileList(store).map(_.length).sum
  def dataFiles(store: File): Long = dataFileList(store).size.toLong
  private def dataFileList(store: File): Seq[File] =
    if (store == null || !store.exists) Nil
    else java.nio.file.Files.walk(store.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU time the hypervisor gave to other guests, summed over this
    * machine's CPUs, in USER_HZ ticks: it explains runs that slow down
    * together. -1 where there is no /proc/stat. */
  def stealTicks(): Long = {
    val stat = new File("/proc/stat")
    if (!stat.exists) -1L
    else {
      val src = scala.io.Source.fromFile(stat)
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(-1L)
      finally src.close()
    }
  }

  /** The process's resident-set high-water mark. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists) Double.NaN
    else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
        .getOrElse(Double.NaN)
      finally src.close()
    }
  }
}
