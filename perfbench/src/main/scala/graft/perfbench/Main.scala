package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, sum}

import graft.parser.{Planner, QueryParser}
import graft.server.{ApiCore, QPack, ServerRegistry, TcpApi}
import graft.streaming.Ingest

/** The benchmark process: one Spark session at local[nproc], the
  * program's own CPROTO server, and one client that drives a workload.
  *
  * Usage: Main --workload ingest|query --seed N --seconds S
  *             --trace 0|1 --work DIR
  *
  * Prints human-readable lines, then one `PERFBENCH_RESULT {...}` line
  * with every measured metric (value, unit, sample count).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  val Workloads: Seq[String] = Seq("ingest", "query")

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.core.Tables.sessionBuilder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Run.sinceStartS()
    val out = new Out
    val run = new Run(spark, a, out)
    try {
      a.workload match {
        case "ingest" => run.ingest(sessionS)
        case "query" => run.query(sessionS)
      }
      if (a.trace) Kernels.run(spark, a.seed).foreach { case (n, v) =>
        out.add(s"functions.${n}_ns_per_elem", v, "ns", Kernels.Rows)
      }
    } finally run.close()
    out.add("fail_ratio", run.failed.get.toDouble / math.max(1L, run.attempted.get), "ratio",
      run.attempted.get.toInt)
    out.print(run.attempted.get, run.failed.get, a.trace)
    spark.stop()
  }
}

/** One process's run of one workload. */
final class Run(spark: SparkSession, a: Main.Args, out: Out) {
  import Run._

  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val sc = spark.sparkContext
  private val closers = mutable.ArrayBuffer.empty[() => Unit]

  private def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failed.get <= 5) System.err.println(s"perfbench: WRONG ANSWER: $what")
  }

  def close(): Unit = closers.reverse.foreach(c => try c() catch { case _: Exception => () })

  /** The program's CPROTO server over one store, and a connected,
    * authenticated client. */
  final class Server(val dir: String) {
    private val reg = new ServerRegistry(spark, "graft", dir)
    private val tcp = new TcpApi(spark, dir, 0, Some(reg))
    val client = new CprotoClient(tcp.start())
    client.auth()
    def core: ApiCore = reg.db("graft").get.asInstanceOf[ApiCore]
    def stop(): Unit = { client.close(); tcp.stop() }
    closers += (() => stop())
  }

  /** `SetupReps` set-ups into fresh stores; the last one's server is
    * kept, the others stopped. Returns (server, median set-up s). */
  private def setups(build: String => Unit): (Server, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Server = null
    for (r <- 0 until Main.SetupReps) {
      val t0 = System.nanoTime()
      val dir = s"${a.work}/store$r"
      build(dir)
      val s = new Server(dir)
      times += elapsedS(t0)
      if (last != null) last.stop()
      last = s
    }
    println(f"  set-up reps (s): ${times.map(t => f"$t%.3f").mkString(" ")}")
    phase("set-up done")
    (last, Stats.median(times.toSeq))
  }

  /** Heap still in use after full collections at the end of the timed
    * phase: what the process retains (store views, caches, Spark's
    * bookkeeping), not how far garbage piled up between collections. */
  private def heapRetained(): Unit = {
    // a collection only queues what reference processing, finalizers
    // and Spark's context cleaner release afterwards: collect again
    // until the heap stops shrinking
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var n = 1
    var settled = false
    while (!settled && n < 10) {
      Thread.sleep(100)
      val now = used()
      settled = now > last - (1L << 20)
      last = math.min(last, now)
      n += 1
    }
    out.add("heap_retained_mb", last / 1048576.0, "MB", n)
  }

  /** Length of the timed phase. A traced run splits its time: the
    * first half untraced, the second half tracing (`tracedHalf`). */
  private def timedSeconds: Double = if (a.trace) a.seconds / 2 else a.seconds

  private def report(kind: String, lat: Seq[Double], perS: Double): Unit = {
    println(s"  ${kind} latencies (ms): ${lat.map(x => f"$x%.0f").mkString(" ")}")
    out.add("request_p50_ms", Stats.median(lat), "ms", lat.size)
    out.add("requests_per_s", perS, "1/s", lat.size)
    out.add(s"${kind}_p50_ms", Stats.median(lat), "ms", lat.size)
    Stats.percentile(lat, 0.9) match {
      case Right(v) => out.add(s"${kind}_p90_ms", v, "ms", lat.size)
      case Left(why) => println(s"  ${kind}_p90_ms: $why")
    }
  }

  // ---------------------------------------------------------------
  // ingest
  // ---------------------------------------------------------------

  def ingest(sessionS: Double): Unit = {
    val (srv, setupS) = setups(_ => ())
    out.add("setup_s", sessionS + setupS, "s", Main.SetupReps)
    // untimed warm-up on a scratch store: the first inserts and the
    // first compaction pass of a JVM pay class loading and code
    // generation
    val warm = new Server(s"${a.work}/warm")
    val warmSeed = Gen.mix(a.seed, 99L)
    val warmMs = (0 until WarmInserts).map(n => insertWire(warm.client, Gen.ingestInsert(warmSeed, n)))
    println(s"  warm-up insert latencies (ms): ${warmMs.map(x => f"$x%.0f").mkString(" ")}")
    warm.core.optimizeNow()
    warm.stop()
    phase("warm-up done")

    var n = 0
    var points = 0L
    val seriesSeen = mutable.Set.empty[String]
    def next(): Gen.Insert = {
      val ins = Gen.ingestInsert(a.seed, n)
      n += 1
      points += ins.size
      ins.points.foreach(p => seriesSeen += p._1)
      ins
    }
    val wire = mutable.ArrayBuffer.empty[Double]
    val compaction = new CompactionTimer(srv.core)
    val t0 = System.nanoTime()
    while (elapsedS(t0) < timedSeconds) {
      if (wire.size == CompactAt) compaction.dueNow()
      wire += insertWire(srv.client, next())
    }
    val wallS = elapsedS(t0)
    println(s"  compaction pass in the timed phase: ${if (compaction.ran) "ran" else "did not run"}")
    report("insert", wire.toSeq, wire.size / wallS)
    out.add("insert_points_per_s", points / wallS, "points/s", wire.size)

    if (a.trace) {
      val files0 = storeFiles(srv.dir)
      var inserts = 0
      tracedHalf { (traced, untraced, req) =>
        val t1 = System.nanoTime()
        while (elapsedS(t1) < timedSeconds || req.isEmpty) {
          tracedPair(req.size) { on =>
            (if (on) traced else untraced) += insertWire(srv.client, next())
          }
          req += insertInProcess(srv, next())
          inserts += 3
        }
      }
      out.add("parser.parse_us", 0.0, "us", 0)
      out.add("parser.plan_ms", 0.0, "ms", 0)
      out.add("streaming.files_per_insert", (storeFiles(srv.dir) - files0).toDouble / inserts,
        "count", inserts)
      analyticsNotRun()
    }
    phase("timed phase done")
    heapRetained()
    // one last pass, in-process, over the fragments the inserts after
    // the timed pass left: the store is measured in the form it settles
    // to, whatever the number of inserts a run completed
    val compactMs = timedMs(srv.core.optimizeNow())._2
    if (a.trace) out.add("streaming.compact_ms", compactMs, "ms", 1)

    // the store must hold exactly the acknowledged points and series,
    // in its catalog and in its (compacted) point files
    val r = Ingest.catalog(spark, srv.dir).agg(count("series"), sum(col("length"))).head()
    val stored = Ingest.points(spark, srv.dir).count()
    attempted.incrementAndGet()
    if (r.getLong(0) != seriesSeen.size || r.getLong(1) != points || stored != points)
      fail(s"store holds ${r.getLong(0)} series / ${r.getLong(1)} points in its catalog and " +
        s"$stored points in its files, acknowledged ${seriesSeen.size} / $points")
    storeMetrics(srv.dir, points, r.getLong(0))
  }

  /** Untimed inserts into a scratch store before the timed phase. */
  private val WarmInserts = 10

  /** The timed insert that runs the compaction pass (0-based). */
  private val CompactAt = 2

  /** The server's compaction timer. `ApiCore` runs its compaction
    * pass (`optimizeNow`: merge shards holding more than 8 files, bump
    * the generation) inline in the first insert at least 60 s after
    * the previous pass, the first one 60 s after the server is built.
    * A run is much shorter, so the benchmark moves that clock: one pass
    * then falls inside every timed phase, at the same insert, paid by
    * that insert, as a long-running server pays one every 60 s. */
  private final class CompactionTimer(core: ApiCore) {
    private def field(suffix: String) = {
      val f = classOf[ApiCore].getDeclaredFields.find(_.getName.endsWith(suffix)).getOrElse(
        throw new IllegalStateException(s"ApiCore has no field *$suffix: cannot schedule compaction"))
      f.setAccessible(true)
      f
    }
    private val intervalMs = field("OptimizeIntervalMs").getLong(core)
    private val timer = field("lastOptimizeMs").get(core).asInstanceOf[AtomicLong]
    private var due = Long.MinValue

    /** Make the pass due now: the next insert runs it. */
    def dueNow(): Unit = { due = System.currentTimeMillis() - intervalMs; timer.set(due) }

    /** Whether a pass has run since `dueNow`. */
    def ran: Boolean = due != Long.MinValue && timer.get != due
  }

  /** One insert over CPROTO; latency in ms. The acknowledgement must
    * name the insert's point count. */
  private def insertWire(c: CprotoClient, ins: Gen.Insert): Double = {
    val body = QPack.encode(Bodies.insertNode(ins))
    val t0 = System.nanoTime()
    val (tp, data) = c.request(CprotoClient.ReqInsert, body)
    val ms = (System.nanoTime() - t0) / 1e6
    attempted.incrementAndGet()
    val answer = QPack.decode(data)
    if (tp != CprotoClient.ResInsert || !Bodies.isInsertOk(answer, ins.size))
      fail(s"insert answered type $tp: $answer")
    ms
  }

  /** One insert through the handler in-process, with its layer split. */
  private def insertInProcess(srv: Server, ins: Gen.Insert): Map[String, Double] = {
    val body = QPack.encode(Bodies.insertNode(ins))
    val (node, decUs) = timedUs(QPack.decode(body))
    val s0 = Trace.read(sc)
    val (resp, coreMs) = timedMs(srv.core.runInsert(node, "iris"))
    val d = Trace.read(sc) - s0
    val (bytes, encUs) = timedUs(QPack.encode(resp))
    attempted.incrementAndGet()
    if (!Bodies.isInsertOk(resp, ins.size)) fail(s"in-process insert answered $resp")
    spanMetrics(d, coreMs) ++ Map("server.decode_us" -> decUs, "server.encode_us" -> encUs,
      "server.resp_bytes" -> bytes.length.toDouble,
      "streaming.bytes_written_per_point" -> d.outputBytes.toDouble / ins.size)
  }

  // ---------------------------------------------------------------
  // query
  // ---------------------------------------------------------------

  def query(sessionS: Double): Unit = {
    val names = Gen.series.map(_.name).toArray
    val ints = Gen.series.map(_.isInt).toArray
    val seed = a.seed
    val parts = Runtime.getRuntime.availableProcessors * 2
    val (srv, setupS) = setups { dir =>
      import spark.implicits._
      val pts = spark.range(0, Gen.Store.NPoints, 1, parts)
        .map(i => Gen.storePoint(seed, names, ints, i))
      Ingest.appendBatch(pts.toDF(), dir, 86400L)
      Ingest.rollupBackfill(spark, dir, Seq(3600L))
    }
    out.add("setup_s", sessionS + setupS, "s", Main.SetupReps)
    queryLoop(srv)
    // the benchmark's model and the collected answers are garbage now,
    // so what remains is the program's
    heapRetained()
    storeMetrics(srv.dir, Gen.Store.NPoints, Ingest.catalog(spark, srv.dir).count())
    if (a.trace) analytics()
  }

  /** Warm-up, timed phase, traced half; checks every answer. */
  private def queryLoop(srv: Server): Unit = {
    val seed = a.seed
    val model = new Model(seed)

    // untimed warm-up: one cycle of the mix, with other parameters
    // (the first cycle of a JVM runs measurably slower than the next)
    Gen.queryCycle(Gen.mix(seed, 98L), 0).foreach(q => checkQuery(model, q, wireQuery(srv, q)._2))
    phase("warm-up done")

    // whole cycles of the mix, so every run sees the same composition;
    // returns each cycle's seconds
    def cycles(seconds: Double)(each: Gen.Query => Unit): Seq[Double] = {
      val t0 = System.nanoTime()
      val times = mutable.ArrayBuffer.empty[Double]
      while (elapsedS(t0) < seconds) {
        val t1 = System.nanoTime()
        Gen.queryCycle(seed, times.size).foreach(each)
        times += elapsedS(t1)
      }
      times.toSeq
    }
    val wire = mutable.ArrayBuffer.empty[(Gen.Query, Double)]
    val answers = mutable.ArrayBuffer.empty[(Gen.Query, Array[Byte])]
    val cycleS = cycles(timedSeconds) { q =>
      val (ms, data) = wireQuery(srv, q)
      wire += ((q, ms))
      answers += ((q, data))
    }
    println(s"  cycle times (s): ${cycleS.map(x => f"$x%.2f").mkString(" ")}")
    // the median cycle's rate: one cycle slowed by the host does not
    // move it, a slower query kind (in every cycle) does
    report("query", wire.map(_._2).toSeq, Gen.CycleLength / Stats.median(cycleS))
    Gen.QueryWeights.foreach { case (k, _) =>
      val xs = wire.filter(_._1.kind == k).map(_._2).toSeq
      if (xs.nonEmpty) println(f"  query kind $k%-14s p50 ${Stats.median(xs)}%9.1f ms  n=${xs.size}")
    }

    if (a.trace) {
      tracedHalf { (traced, untraced, req) =>
        // the same requests again
        cycles(timedSeconds) { q =>
          tracedPair(req.size) { on =>
            val (ms, data) = wireQuery(srv, q)
            (if (on) traced else untraced) += ms
            answers += ((q, data))
          }
          req += queryInProcess(srv, model, q)
        }
      }
      out.add("streaming.bytes_written_per_point", 0.0, "B/point", 0)
      out.add("streaming.files_per_insert", 0.0, "count", 0)
      out.add("streaming.compact_ms", 0.0, "ms", 0)
    }
    phase("timed phase done")
    // the server's connection thread holds on to its last answer until
    // the next request; end every run on the same small one, so the
    // retained heap does not depend on which query of the mix came last
    val last = Gen.query("count_series", new Gen.Rng(seed))
    checkQuery(model, last, wireQuery(srv, last)._2)

    // answers are checked after the timed phase, so checking costs no
    // request time
    answers.foreach { case (q, data) => checkQuery(model, q, data) }
  }

  /** One query over CPROTO: (latency ms, answer package, or empty on
    * an error answer). */
  private def wireQuery(srv: Server, q: Gen.Query): (Double, Array[Byte]) = {
    val body = srv.client.queryBody(q.q)
    val t0 = System.nanoTime()
    val (tp, data) = srv.client.request(CprotoClient.ReqQuery, body)
    val ms = (System.nanoTime() - t0) / 1e6
    (ms, if (tp == CprotoClient.ResQuery) data else Array.emptyByteArray)
  }

  private def checkQuery(model: Model, q: Gen.Query, data: Array[Byte]): Unit = {
    attempted.incrementAndGet()
    if (data.isEmpty) fail(s"'${q.q}': error answer")
    else model.check(q, QPack.decode(data)).foreach(m => fail(s"'${q.q}': $m"))
  }

  /** One query through the layers in-process: parse, plan (building
    * the DataFrame, with any eager jobs), the full handler, and the
    * qpack encode/decode of its answer. */
  private def queryInProcess(srv: Server, model: Model, q: Gen.Query): Map[String, Double] = {
    val core = srv.core
    val (stmt, parseUs) = timedUs(QueryParser.parse(q.q, Planner.nowRaw(core.factor), core.factor))
    val env = core.env("iris")
    val (_, planMs) = timedMs(try Planner.run(stmt, env, keepPid = true) finally Planner.drainQueryCaches())
    val s0 = Trace.read(sc)
    val (node, coreMs) = timedMs(core.runQuery(q.q, 0.0, "iris"))
    val d = Trace.read(sc) - s0
    val (bytes, encUs) = timedUs(QPack.encode(node))
    val (_, decUs) = timedUs(QPack.decode(bytes))
    attempted.incrementAndGet()
    model.check(q, node).foreach(m => fail(s"in-process '${q.q}': $m"))
    spanMetrics(d, coreMs) ++ Map("parser.parse_us" -> parseUs, "parser.plan_ms" -> planMs,
      "server.decode_us" -> decUs, "server.encode_us" -> encUs,
      "server.resp_bytes" -> bytes.length.toDouble)
  }

  // ---------------------------------------------------------------
  // registered entries (traced `query` runs)
  // ---------------------------------------------------------------

  /** Each of `Analytics.Entries`, looked up in `SparkEntry.queries`,
    * over tables generated from the seed: one untimed run, then
    * `Analytics.Reps` timed ones, every answer checked. Reports each
    * entry's median time, jobs and shuffle, and the jobs the `llm`
    * module launched itself (the eager training and checkpoint jobs;
    * the entry's final action is the benchmark's). */
  private def analytics(): Unit = {
    val dir = s"${a.work}/analytics"
    val data = Analytics.generate(a.seed)
    Analytics.write(spark, dir, data)
    val pairs = Analytics.expectedPairs(data)
    phase("analytics tables written")
    val llm = mutable.ArrayBuffer.empty[Trace.Snap]
    Analytics.Entries.foreach { e =>
      val entry = graft.SparkEntry.queries(e)
      def once(): (Double, Trace.Snap) = {
        val s0 = Trace.read(sc)
        val (rows, ms) = timedMs(entry(spark, dir).collect())
        val d = Trace.read(sc) - s0
        attempted.incrementAndGet()
        Analytics.check(e, rows, data, pairs).foreach(m => fail(s"$e: $m"))
        (ms / 1000, d)
      }
      once()
      val reps = Seq.fill(Analytics.Reps)(once())
      println(s"  $e (s): ${reps.map(r => f"${r._1}%.3f").mkString(" ")}")
      out.add(s"analytics.${e}_s", Stats.median(reps.map(_._1)), "s", reps.size)
      out.add(s"analytics.${e}_jobs", Stats.median(reps.map(_._2.jobs.toDouble)), "count", reps.size)
      out.add(s"analytics.${e}_shuffle_mb", Stats.median(reps.map(_._2.shuffleBytes / 1048576.0)),
        "MB", reps.size)
      llm ++= reps.map(_._2)
    }
    Trace.detach(sc)
    out.add("spark.jobs.llm", llm.map(_.moduleJobs.getOrElse("llm", 0L)).sum.toDouble / llm.size,
      "count", llm.size)
    out.add("spark.job_ms.llm", llm.map(_.moduleMs.getOrElse("llm", 0L)).sum.toDouble / llm.size,
      "ms", llm.size)
    phase("analytics done")
  }

  /** The registered entries run on traced `query` runs only. */
  private def analyticsNotRun(): Unit = {
    Analytics.Entries.foreach { e =>
      out.add(s"analytics.${e}_s", 0.0, "s", 0)
      out.add(s"analytics.${e}_jobs", 0.0, "count", 0)
      out.add(s"analytics.${e}_shuffle_mb", 0.0, "MB", 0)
    }
    out.add("spark.jobs.llm", 0.0, "count", 0)
    out.add("spark.job_ms.llm", 0.0, "ms", 0)
  }

  // ---------------------------------------------------------------
  // per-layer helpers
  // ---------------------------------------------------------------

  /** The traced half of a traced run. `body` issues each request once
    * untraced and once traced over the wire (`tracedPair`), then once
    * through the layers in-process, collecting each in-process
    * request's layer split. Reports the splits' medians (module job
    * counts and times as means), the wire time outside the handler,
    * and the tracing overhead. */
  private def tracedHalf(body: (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double],
      mutable.ArrayBuffer[Map[String, Double]]) => Unit): Unit = {
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val req = mutable.ArrayBuffer.empty[Map[String, Double]]
    body(traced, untraced, req)
    Trace.detach(sc)
    val reqs = req.toSeq
    reqs.head.keys.toSeq.sorted.foreach { k =>
      if (k.startsWith("spark.jobs.") || k.startsWith("spark.job_ms."))
        // most requests launch no job from most modules
        out.add(k, reqs.map(_(k)).sum / reqs.size, unitOf(k), reqs.size)
      else out.add(k, Stats.median(reqs.map(_(k))), unitOf(k), reqs.size)
    }
    out.add("server.wire_ms", Stats.median(untraced.toSeq) - Stats.median(reqs.map(_("server.core_ms"))),
      "ms", untraced.size)
    out.add("bench.trace_overhead_pct",
      (Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1) * 100, "%", traced.size)
  }

  /** Run `f` untraced and traced (listener detached, then attached),
    * swapping the order on every other call; leaves it attached. */
  private def tracedPair(i: Int)(f: Boolean => Unit): Unit = {
    (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { on =>
      if (on) Trace.setup(sc) else Trace.detach(sc)
      f(on)
    }
    Trace.setup(sc)
  }

  private def spanMetrics(d: Trace.Snap, coreMs: Double): Map[String, Double] =
    Map("server.core_ms" -> coreMs, "server.driver_ms" -> (coreMs - d.jobWallMs),
      "spark.jobs" -> d.jobs.toDouble, "spark.stages" -> d.stages.toDouble,
      "spark.tasks" -> d.tasks.toDouble, "spark.job_wall_ms" -> d.jobWallMs.toDouble,
      "spark.task_ms" -> d.taskMs.toDouble, "spark.task_wait_ms" -> d.taskWaitMs.toDouble,
      "spark.input_mb" -> d.inputBytes / 1048576.0, "spark.shuffle_mb" -> d.shuffleBytes / 1048576.0,
      "spark.output_mb" -> d.outputBytes / 1048576.0) ++
      Trace.Modules.flatMap(m => Seq(
        s"spark.jobs.$m" -> d.moduleJobs.getOrElse(m, 0L).toDouble,
        s"spark.job_ms.$m" -> d.moduleMs.getOrElse(m, 0L).toDouble))

  private val unitOf: Map[String, String] = Catalog.PerLayer.toMap

  private def storeMetrics(dir: String, points: Long, catalogRows: Long): Unit = {
    out.add("streaming.store_files_end", storeFiles(dir).toDouble, "count", 1)
    out.add("streaming.catalog_rows_end", catalogRows.toDouble, "count", 1)
    out.add("store_bytes_per_point", storeBytes(dir).toDouble / points, "B/point", 1)
  }
}

object Run {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceStartS(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Progress line: seconds since the process started. */
  def phase(what: String): Unit = println(f"  [${sinceStartS()}%7.2f s] $what")

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }

  def timedUs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e3)
  }

  private def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  /** Data files of a store (parquet parts; not checksums or markers). */
  def storeFiles(dir: String): Long = files(dir).count(_.getFileName.toString.endsWith(".parquet")).toLong

  /** Every byte the store keeps on disk. */
  def storeBytes(dir: String): Long = files(dir).map(Files.size).sum
}
