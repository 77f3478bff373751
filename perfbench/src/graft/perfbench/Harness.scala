package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Bench, GraftSession, Pipeline}
import graft.operators.{Analytics, CleanStore, Cleaning, Feeds, Params}
import graft.sources.{Staging, Tables}

/** The benchmark's JVM side: one process, one closed loop, one caller at a
  * time. It builds the session, runs one workload's passes for a time
  * budget, checks every output outside the timed regions, and writes the
  * raw samples (and, when traced, the spans) for `run.py` to reduce.
  *
  * `--workload w --data dir --seed n --seconds s --trace 0|1 --cpus n
  *  --out result.json [--expected hashes.json | --record hashes.json]`
  */
object Harness {

  /** The registry entries the operator_mix workload runs. */
  val MixQueries: Seq[String] = Seq(
    "dd11_incremental_dedup", "dd7_embed_neardup_lsh", "td17_dup_ngrams",
    "sql8_window_ranks", "st6_stream_attribution", "st10_stream_left_outer")

  /** Widget refreshes in one dashboard session (one pass). */
  val SessionRefreshes = 10

  /** Warm passes an untraced run makes at least. */
  val MinWarmPasses = 2

  /** Set-ups per run; each one after the first restages from scratch. */
  val Setups = 3

  final case class Args(
      workload: String, data: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: String, out: Path, expected: Option[Path], record: Option[Path])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("data"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cpus"), Paths.get(m("out")),
      m.get("expected").map(Paths.get(_)), m.get("record").map(Paths.get(_)))
  }

  /** Order-independent hash of a result: doubles rounded to 6 places (a
    * parallel sum may differ in its last bits between runs), every row
    * hashed, the row hashes summed as DECIMAL(38,0). "rows:sum".
    */
  def resultHash(df: DataFrame): String = {
    def norm(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) => struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case MapType(kt, vt, _) =>
        norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType).as(f.name))
    val r = df.select(xxhash64(struct(cols: _*)).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")}"
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val t00 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${secs(t00)}%.2f s: $what")

  private def deleteTree(p: java.io.File): Unit = if (p.exists()) Staging.deleteRecursively(p)

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap still in use after a full collection, in MB. Spark's context
    * cleaner frees broadcast and shuffle blocks only after a collection
    * has found their owners unreachable, so one collection runs first, the
    * cleaner gets time to work, and the second one is measured.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ------------------------------------------------------------ workloads

  /** One workload; passes return operation latencies (ms). */
  trait Workload {
    def pass(spark: SparkSession, i: Int, traced: Boolean): Seq[Double]
    /** Output checks, run after the timed loop: failure messages. */
    def check(spark: SparkSession): Seq[String]
    def attempted: Int
    /** Per-layer numbers, per traced warm pass; `n` such passes ran. */
    def layers(n: Int): Map[String, Double]
    /** Input staging charged to set-up. */
    def stage(spark: SparkSession): Unit = ()
  }

  final class Ctx(val a: Args, val tracer: Tracer, var listeners: Option[Listeners]) {
    val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val failures = mutable.ArrayBuffer.empty[String]
    /** Counter deltas of `body` when the listeners are live (traced pass). */
    def window[T](traced: Boolean)(body: => T): (T, Map[String, Double]) =
      listeners match {
        case Some(l) if traced => l.window(tracer)(body)
        case _ => (body, Map.empty[String, Double].withDefaultValue(0.0))
      }
    def addAll(prefix: String, d: Map[String, Double], keys: String*): Unit =
      keys.foreach(k => layer(s"$prefix$k") += d.getOrElse(k, 0.0))
    /** The counters every workload reports: Spark's task totals and the
      * parquet scans' own task time. */
    def addEngine(d: Map[String, Double]): Unit = {
      addAll("spark.", d, "task_ms", "gc_ms", "stages", "shuffle_write_bytes", "spill_bytes")
      addAll("sources.", d, "scan_ms")
    }
  }

  /** Pipeline.run's flow into a fresh output dir per pass. Untraced passes
    * call `Pipeline.run` itself; traced passes call its stages through
    * their public functions, and the checks prove both produce equal
    * accounting and equal feeds.
    */
  final class PipelineBatch(
      ctx: Ctx, dir: String, expected: Map[String, Long], expectedEventsClean: Long) {
    private val outs = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
    private val inputBytes = Seq("lineitem", "events").map(t => new java.io.File(Tables.path(dir, t)).length).sum
    def attempted: Int = outs.size

    def pass(spark: SparkSession, i: Int, traced: Boolean): Seq[Double] = {
      val out = new java.io.File(s"${sys.props("user.dir")}/pipeline_out/pass$i").getPath
      val t0 = System.nanoTime()
      val acc =
        if (!traced) Pipeline.run(spark, dir, out).accounting
        else {
          val tr = ctx.tracer
          val (raw, dScan) = ctx.window(true)(tr.span("sources.scan_validate")(
            Pipeline.lineitemContract.validate(Tables.lineitem(spark, dir))))
          val ((cleaned, counts), dClean) = ctx.window(true)(tr.span("Cleaning.clean")(
            Cleaning.cleanAndCount(raw, Analytics.cleaningRules)))
          val derived = CleanStore.deriveCleaned(cleaned)
          val cleanPath = s"$out/clean_lineitem"
          val cleanEventsPath = s"$out/clean_events"
          val (_, dWrite) = ctx.window(true)(tr.span("CleanStore.write") {
            CleanStore.writeLineitem(derived, cleanPath)
            CleanStore.writeEvents(CleanStore.cleanEvents(spark, dir), cleanEventsPath)
          })
          val (_, dFeeds) = ctx.window(true)(tr.span("Feeds.write")(
            Feeds.writeAll(spark, dir, s"$out/feeds", Feeds.Served(
              spark.read.parquet(cleanPath), spark.read.parquet(cleanEventsPath)))))
          ctx.addAll("sources.scan_validate.", dScan, "jobs")
          ctx.addAll("Cleaning.", dClean, "jobs")
          ctx.layer("Cleaning.rows_in") += counts("rows_in")
          ctx.layer("Cleaning.rows_out") += counts("rows_out")
          ctx.addAll("CleanStore.", dWrite, "write_files", "write_bytes", "jobs")
          ctx.addAll("Feeds.", dFeeds, "scan_files", "jobs")
          Seq(dScan, dClean, dWrite, dFeeds).foreach(ctx.addEngine)
          counts
        }
      val ms = secs(t0) * 1e3
      outs += ((out, acc))
      Seq(ms)
    }

    /** Pass output dirs, for run.py's feed comparison. */
    def outputs: Seq[String] = outs.map(_._1).toSeq

    def check(spark: SparkSession): Seq[String] = {
      val cleanEvents = spark.read.parquet(s"${outs.head._1}/clean_events").count()
      val bad = outs.zipWithIndex.collect { case ((_, acc), i) if acc != expected =>
        s"pass $i accounting $acc != generator counts $expected"
      }
      bad.toSeq ++ (if (cleanEvents != expectedEventsClean)
        Seq(s"clean events $cleanEvents != $expectedEventsClean") else Nil)
    }

    def layers(n: Int): Map[String, Double] = {
      val k = n.toDouble
      val per = ctx.layer.toMap.map { case (name, v) => name -> v / k }
      val written = per.getOrElse("CleanStore.write_bytes", 0.0)
      per ++ Map(
        "Cleaning.kept_ratio" -> per.getOrElse("Cleaning.rows_out", 0.0) /
          math.max(per.getOrElse("Cleaning.rows_in", 1.0), 1.0),
        "CleanStore.files_written" -> per.getOrElse("CleanStore.write_files", 0.0),
        "CleanStore.bytes_written" -> written,
        "CleanStore.bytes_per_input_byte" -> written / math.max(inputBytes.toDouble, 1.0),
        "Feeds.files_read" -> per.getOrElse("Feeds.scan_files", 0.0))
    }
  }

  /** A session of widget refreshes over the date-partitioned clean events
    * store, in the pf3 shape; every pass replays the seed's session.
    */
  final class DashboardSession(ctx: Ctx, dir: String) {
    /** The seed places each refresh's date range, hour window and types;
      * every session has the same mix of range lengths (1 day to the whole
      * month) and type counts (1 to 4), so sessions of different seeds do
      * comparable work.
      */
    val params: IndexedSeq[Params.EventParams] = {
      val rnd = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.a.seed))
      val types = IndexedSeq("click", "error", "purchase", "signup", "view")
      val spans = rnd.shuffle(IndexedSeq(1, 2, 4, 7, 10, 14, 18, 22, 26, 30))
      val typeCounts = rnd.shuffle(IndexedSeq.tabulate(SessionRefreshes)(j => 1 + j % 4))
      spans.zip(typeCounts).map { case (span, k) =>
        val d0 = 1 + rnd.nextInt(31 - span)
        val h0 = rnd.nextInt(24)
        val h1 = h0 + rnd.nextInt(24 - h0)
        Params.EventParams(f"2024-01-$d0%02d 00:00:00",
          java.time.LocalDate.of(2024, 1, d0).plusDays(span).toString + " 00:00:00", h0, h1,
          rnd.shuffle(types).take(k).sorted)
      }
    }
    private val results = mutable.ArrayBuffer.empty[(Int, Seq[Row])]
    def attempted: Int = results.size
    def stage(spark: SparkSession): Unit = { CleanStore.events(spark, dir); () }

    def refresh(spark: SparkSession, p: Params.EventParams): Seq[Row] = {
      val clean = ctx.tracer.span("CleanStore.serve")(CleanStore.events(spark, dir))
      val pruned = clean.filter(col("event_date").between(
        to_date(lit(p.tsLo).cast("timestamp")), to_date(lit(p.tsHi).cast("timestamp"))))
      val df = ctx.tracer.span("Params.build")(Params.typeSummary(pruned, p))
      ctx.tracer.span("Params.collect")(df.collect().toSeq)
    }

    def pass(spark: SparkSession, i: Int, traced: Boolean): Seq[Double] =
      params.zipWithIndex.map { case (p, j) =>
        ctx.tracer.op = s"pass$i.refresh$j"
        val t0 = System.nanoTime()
        val (rows, d) = ctx.window(traced)(refresh(spark, p))
        val ms = secs(t0) * 1e3
        results += ((j, rows))
        if (traced) {
          ctx.addAll("Params.", d, "plan_ms", "action_ms", "jobs", "tasks")
          ctx.addAll("CleanStore.", d, "scan_files", "scan_rows")
          ctx.layer("Params.rows_matched") += rows.map(_.getLong(1)).sum.toDouble
          ctx.addEngine(d)
        }
        ms
      }

    def check(spark: SparkSession): Seq[String] = {
      val crit = CleanStore.EventCriticalCols.map(c => s"$c IS NOT NULL").mkString(" AND ")
      Tables.events(spark, dir).createOrReplaceTempView("perfbench_raw_events")
      spark.sql(s"SELECT * FROM perfbench_raw_events WHERE $crit").createOrReplaceTempView("events")
      // one query for the whole session: the oracles UNION ALL'd, tagged
      // with their refresh index
      val union = params.zipWithIndex.map { case (p, j) =>
        s"SELECT $j AS refresh, * FROM (${Params.oracleSqlFor(p)})"
      }.mkString(" UNION ALL ")
      val byRefresh = spark.sql(union).collect().toSeq.groupBy(_.getInt(0))
      val oracle = params.indices.map(j => byRefresh.getOrElse(j, Nil)
        .map(r => Row.fromSeq(r.toSeq.tail)).sortBy(_.getString(0)))
      results.toSeq.flatMap { case (j, rows) =>
        if (rows == oracle(j)) Nil
        else Seq(s"refresh $j ${params(j)}: $rows != oracle ${oracle(j)}")
      }
    }

    def layers(n: Int): Map[String, Double] = {
      val k = (n * SessionRefreshes).toDouble
      val per = ctx.layer.toMap
      Map(
        "Params.plan_ms" -> per.getOrElse("Params.plan_ms", 0.0) / k,
        "Params.exec_ms" -> per.getOrElse("Params.action_ms", 0.0) / k,
        "Params.jobs_per_refresh" -> per.getOrElse("Params.jobs", 0.0) / k,
        "Params.tasks_per_refresh" -> per.getOrElse("Params.tasks", 0.0) / k,
        "Params.selectivity" -> per.getOrElse("Params.rows_matched", 0.0) /
          math.max(per.getOrElse("CleanStore.scan_rows", 1.0), 1.0),
        "CleanStore.files_read_per_refresh" -> per.getOrElse("CleanStore.scan_files", 0.0) / k,
        "CleanStore.rows_read_per_refresh" -> per.getOrElse("CleanStore.scan_rows", 0.0) / k) ++
        per.filter(k => k._1.startsWith("spark.") || k._1.startsWith("sources.")).map { case (name, v) => name -> v / n }
    }
  }

  /** The paper's flow, one pass: the batch pipeline writes its clean tables
    * and feeds, then a dashboard session refreshes widgets over the clean
    * events store. The operations are the refreshes.
    */
  final class PipelineDashboard(val batch: PipelineBatch, session: DashboardSession) extends Workload {
    override def stage(spark: SparkSession): Unit = session.stage(spark)
    def pass(spark: SparkSession, i: Int, traced: Boolean): Seq[Double] = {
      batch.pass(spark, i, traced)
      session.pass(spark, i, traced)
    }
    def check(spark: SparkSession): Seq[String] = batch.check(spark) ++ session.check(spark)
    def attempted: Int = batch.attempted + session.attempted
    def layers(n: Int): Map[String, Double] = batch.layers(n) ++ session.layers(n)
  }

  /** The heavy registry operators in a seed-shuffled order, each built and
    * fully executed, with the catalog cache cleared between queries.
    */
  final class OperatorMix(ctx: Ctx, dir: String) extends Workload {
    val order: Seq[String] = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.a.seed))
      .shuffle(MixQueries)
    private val lastDfs = mutable.LinkedHashMap.empty[String, DataFrame]
    private var runs = 0
    def attempted: Int = runs

    def pass(spark: SparkSession, i: Int, traced: Boolean): Seq[Double] = {
      order.flatMap { q =>
        ctx.tracer.op = s"pass$i"
        runs += 1
        val t0 = System.nanoTime()
        try {
          val (df, dBuild) = ctx.window(traced)(ctx.tracer.span(s"operators.$q.build")(
            graft.SparkEntry.benchQueries(q)(spark, dir)))
          val (_, dExec) = ctx.window(traced)(ctx.tracer.span(s"operators.$q.exec")(
            df.queryExecution.toRdd.count()))
          val ms = secs(t0) * 1e3
          spark.catalog.clearCache()
          lastDfs(q) = df
          if (traced) {
            val plan = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
            ctx.layer(s"operators.$q.plan_s") += plan
            Seq(dBuild, dExec).foreach { d =>
              ctx.addAll("streaming.", d, "stream_batches", "state_rows")
              ctx.addEngine(d)
            }
          }
          Seq(ms)
        } catch { case e: Exception =>
          ctx.failures += s"$q threw ${e.getClass.getName}: ${e.getMessage}"
          Nil
        }
      }
    }

    def hashes(spark: SparkSession): Map[String, String] =
      lastDfs.map { case (q, df) => q -> resultHash(df) }.toMap

    def check(spark: SparkSession): Seq[String] = {
      val expected = ctx.a.expected.map(readFlatJson).getOrElse(Map.empty)
      val got = hashes(spark)
      ctx.a.record.foreach(p => writeFlatJson(p, got.toSeq.sorted.map { case (k, v) => k -> s""""$v"""" }))
      if (ctx.a.record.nonEmpty) Nil
      else MixQueries.flatMap { q =>
        if (got.get(q) == expected.get(q)) Nil
        else Seq(s"$q result hash ${got.get(q)} != recorded ${expected.get(q)}")
      }
    }

    def layers(n: Int): Map[String, Double] = {
      val k = n.toDouble
      ctx.layer.toMap.map { case (name, v) => name -> v / k }
    }
  }

  // ------------------------------------------------------------- json io

  private def readFlatJson(p: Path): Map[String, String] = {
    val s = Files.readString(p)
    "\"([^\"]+)\"\\s*:\\s*(\"[^\"]*\"|-?[0-9.eE+-]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
  }

  private def writeFlatJson(p: Path, kv: Seq[(String, String)]): Unit =
    Files.writeString(p, kv.map { case (k, v) => s"""  "$k": $v""" }.mkString("{\n", ",\n", "\n}\n"))

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadAvg()
    val tracer = new Tracer
    val ctx = new Ctx(a, tracer, None)
    val stagingRoot = new java.io.File(sys.props("user.dir"), "target")

    def newWorkload(): Workload = a.workload match {
      case "pipeline_dashboard" =>
        val exp = readFlatJson(Paths.get(a.data, "expected.json"))
        val batch = new PipelineBatch(ctx, a.data, exp.collect {
          case (k, v) if k.startsWith("removed_") || k.startsWith("rows_") => k -> v.toLong
        }, exp("events_clean_rows").toLong)
        new PipelineDashboard(batch, new DashboardSession(ctx, a.data))
      case "operator_mix" => new OperatorMix(ctx, a.data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val w = newWorkload()

    // Set-up, several times: the first from JVM start (cold), then again
    // after stopping the session and emptying the staging root, so each
    // set-up starts from the same artifact state (none staged). The median
    // is the warm set-up: session build plus input staging.
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      Staging.drainRebuildLedger()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        deleteTree(stagingRoot)
      }
      val t0 = System.nanoTime()
      spark = GraftSession.build(a.cpus)
      builds += secs(t0)
      w.stage(spark)
      setups += (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else secs(t0))
    }
    mark("set-up done")
    val (setupStagingS, setupStagingN) = Staging.drainRebuildLedger()
    if (a.trace) {
      val l = new Listeners(spark)
      l.register()
      ctx.listeners = Some(l)
    }

    // The timed loop: the cold first pass, then warm passes until the time
    // budget is spent. A traced run alternates traced and untraced warm
    // passes; their difference is the tracing overhead.
    val codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cg0 = codegen.compileTime
    val firstOps = mutable.ArrayBuffer.empty[Double]
    // untraced warm passes' operation latencies, one list per pass
    val warmOps = mutable.ArrayBuffer.empty[Seq[Double]]
    var peakHeapMb = 0.0
    def runPass(i: Int, traced: Boolean): Double = {
      tracer.on = traced
      ctx.listeners.foreach(_.on = traced)
      tracer.op = s"pass$i"
      val t0 = System.nanoTime()
      val ops = try tracer.span("pass")(w.pass(spark, i, traced)) catch { case e: Exception =>
        ctx.failures += s"pass $i threw ${e.getClass.getName}: ${e.getMessage}"
        Nil
      }
      val s = secs(t0)
      if (i == 0) firstOps ++= ops else if (!traced) warmOps += ops
      if (i <= 1) peakHeapMb = math.max(peakHeapMb, retainedHeapMb())
      s
    }
    val firstPass = runPass(0, a.trace)
    // per-layer numbers describe warm passes only
    ctx.layer.clear()
    ctx.listeners.foreach { l =>
      l.drain()
      l.counters.synchronized { l.counters.batchMs.clear(); l.counters.c.remove("state_bytes_max") }
    }
    mark("first pass done")
    val firstCodegen = (codegen.compileTime - cg0) / 1e9
    val (firstStagingS, firstStagingN) = Staging.drainRebuildLedger()
    val warm = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val cg1 = codegen.compileTime
    val loopStart = System.nanoTime()
    var i = 1
    def enough: Boolean =
      if (a.trace) warm.exists(_._2) && warm.exists(!_._2)
      else warm.size >= MinWarmPasses
    while (!enough || secs(loopStart) < a.seconds) {
      val traced = a.trace && i % 2 == 1
      warm += ((runPass(i, traced), traced))
      i += 1
    }
    tracer.on = false
    ctx.listeners.foreach(_.on = false)
    val warmCodegen = (codegen.compileTime - cg1) / 1e9 / warm.size

    mark("warm passes done")
    // Checks and host stamps, outside every timed region.
    val checkFailures = try w.check(spark) catch { case e: Exception =>
      Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")
    }
    ctx.failures ++= checkFailures
    mark("checks done")
    val canaryCpu = Bench.canaryCpu()
    val canarySpark = if (a.trace) Bench.canarySpark(spark) else Double.NaN
    val loadAfter = loadAvg()
    mark("canaries done")

    val untracedWarm = warm.filter(!_._2).map(_._1)
    val tracedWarm = warm.filter(_._2).map(_._1)
    val layers = mutable.LinkedHashMap[String, Double](
      "GraftSession.build_s" -> builds.sorted.apply(builds.size / 2),
      "GraftSession.cold_setup_s" -> setups.head,
      "GraftSession.codegen_compile_s" -> firstCodegen,
      "GraftSession.codegen_compile_warm_s" -> warmCodegen,
      "sources.staging_s" -> (setupStagingS + firstStagingS),
      "sources.staging_rebuilds" -> (setupStagingN + firstStagingN).toDouble,
      "cold.staging_s" -> firstStagingS)
    layers ++= w.layers(math.max(tracedWarm.size, 1))
    ctx.listeners.foreach { l =>
      val b = l.counters.batchMs.sorted
      layers("streaming.batch_ms_p50") = if (b.isEmpty) 0.0 else b(b.size / 2)
      layers("streaming.state_bytes") = l.counters.c("state_bytes_max")
    }
    if (a.trace) tracer.writeJsonLines(a.out.resolveSibling(a.out.getFileName.toString + ".spans"))

    val json = new StringBuilder("{\n")
    def field(k: String, v: String): Unit = json ++= s"""  "$k": $v,\n"""
    field("workload", s""""${a.workload}"""")
    field("seed", a.seed.toString)
    field("traced", a.trace.toString)
    field("setups_s", arr(setups))
    field("first_pass_s", num(firstPass))
    field("warm_untraced_s", arr(untracedWarm))
    field("warm_traced_s", arr(tracedWarm))
    field("first_ops_ms", arr(firstOps))
    field("ops_ms", warmOps.map(arr).mkString("[", ",", "]"))
    field("peak_heap_mb", num(peakHeapMb))
    w match {
      case p: PipelineDashboard =>
        field("pass_outputs", p.batch.outputs.map(o => s""""$o"""").mkString("[", ",", "]"))
      case _ =>
    }
    field("attempted", (w.attempted max 1).toString)
    field("failures", ctx.failures.map(f => s""""${GraftSession.jsonEscape(f)}"""").mkString("[", ",", "]"))
    field("layers", layers.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}"))
    field("host", Seq(
      s""""nproc": ${Runtime.getRuntime.availableProcessors}""",
      s""""cpus": "${a.cpus}"""",
      s""""load_before": ${num(loadBefore)}""",
      s""""load_after": ${num(loadAfter)}""",
      s""""canary_cpu_s": ${num(canaryCpu)}""",
      s""""canary_spark_s": ${num(canarySpark)}""").mkString("{", ", ", "}"))
    json ++= s"""  "end": true\n}\n"""
    Files.writeString(a.out, json.toString)
    spark.stop()
    mark("stopped")
  }
}
