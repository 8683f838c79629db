package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftKG
import graft.lang.{Normalize, Parser, QueryGraph}

/** The engine benchmark's JVM program: one workload, one client thread,
  * closed loop on `local[n]`, n the cores the JVM sees.
  *
  * {{{
  * Main --workload efo1-hard --seed 1 --seconds 20 --trace 0 \
  *      --data <dir> --train-data <dir> --work <dir>
  * }}}
  *
  * The run sets the session up `Setups` times (each from SparkSession
  * creation through the workload's loads and one fixed warm-up request) and
  * keeps the last. It then runs one untimed cycle of the seeded request
  * stream, one request of every kind, so that no kind's first, cold
  * execution is timed, and then whole cycles of the same stream until
  * `--seconds` have passed. With `--trace 1` it also runs a cycle of
  * requests with spans and per-request Spark attribution on. It writes
  * `result.json` (metrics and run context) and `answers.jsonl` (one line
  * per request, for the oracle) under `--work`.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, trainData: String,
                        work: String)

  /** What one executed request left behind. */
  final case class Done(i: Int, req: Req, latencyS: Double, startMs: Long,
                        endMs: Long, ok: Boolean, error: String,
                        digest: String, n: Long, rows: Array[Row])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
         m("trace") == "1", m("data"), m("train-data"), m("work"))
  }

  /** The session graft.Bench runs the engine in, with its scratch
    * directories inside the run's work directory. The context cleaner does
    * not track references: a persisted frame or checkpoint is then dropped
    * only by an explicit unpersist, not whenever a driver GC happens to
    * collect it, so the storage a run leaves behind is the same from run to
    * run. */
  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.cleaner.referenceTracking", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  private def heapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1) max 0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val wl = Workload(a.workload, a.data, a.trainData)
    val loadStart = loadAvg

    // ---- set-up, repeated; the last session is kept --------------------
    var spark: SparkSession = null
    var kg: GraftKG = null
    var probe: Probe = null
    // Warm-up: the same fixed request, first kind of the cycle, at the end
    // of every set-up.
    val warm = wl.requests(-1L).next()
    val setups = (0 until Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      val sessionS = (System.nanoTime() - t0) / 1e9
      probe = if (a.trace) new Probe(spark) else null
      val sc = spark.sparkContext
      sc.setJobGroup("setup", "setup", false)
      if (probe != null) probe.begin("setup")
      val (k, steps) = wl.setup(spark)
      kg = k
      val (_, warmS) =
        Workload.timed(warm.call(kg).collect())
      val s = (System.nanoTime() - t0) / 1e9
      val jobs = if (probe != null) probe.end("setup").jobs else 0L
      sc.clearJobGroup()
      (s, steps + ("session_s" -> sessionS) + ("warmup_s" -> warmS), jobs)
    }
    val sc = spark.sparkContext
    val storageAfterSetup = BenchAccess.storageInUse(sc)
    if (probe != null) probe.remove()

    def execute(i: Int, r: Req, tracer: Tracer): Done = {
      val tag = s"r$i"
      sc.setJobGroup(tag, r.kind, false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var rows: Array[Row] = Array.empty
      val error = try {
        tracer.forRequest(i) {
          tracer.span("request") {
            if (tracer.enabled) r.lang.foreach { case (lstr, b) =>
              val f = tracer.span("lang.parse")(Parser.parse(lstr))
              val cqs = tracer.span("lang.dnf")(Normalize.toDnf(f))
              tracer.span("lang.querygraph")(QueryGraph.compile(spark, cqs.map(_ -> b)))
            }
            val df = tracer.span("exec.build")(r.call(kg))
            if (tracer.enabled) tracer.span("catalyst")(df.queryExecution.executedPlan)
            rows = tracer.span("spark.execute")(df.collect())
          }
        }
        null
      } catch {
        case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}"
      }
      val lat = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      val (digest, n) =
        if (error == null) r.digest(rows) else ("", 0L)
      Done(i, r, lat, startMs, endMs, error == null, error, digest, n, rows)
    }

    // ---- priming cycle, then timed loop; tracing off ---------------------
    // One seeded stream: its first cycle primes every kind (and is checked
    // like the rest), the cycles after it are timed. Priming only takes each
    // kind's first, cold execution (Catalyst, codegen, JIT) out of the timed
    // loop, so its requests run from one thread per core at once, the
    // cycle's last kinds (the slowest: evaluate, bfs, train) first. The timed
    // loop runs from one client thread and only ends at the end of a cycle,
    // so every run times the same mix of kinds.
    val off = new Tracer(enabled = false)
    val gen = wl.requests(a.seed)
    val done = mutable.ArrayBuffer.empty[Done]
    val (_, primeS) = Workload.timed {
      val firstCycle = wl.kinds.map(_ => gen.next()).zipWithIndex
      val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
      try {
        val pending = firstCycle.reverse.map { case (r, i) =>
          pool.submit(new Callable[Done] { def call(): Done = execute(i, r, off) })
        }
        done ++= pending.reverse.map(_.get())
      } finally pool.shutdown()
    }
    def cycle(afterEach: () => Unit = () => ()): Seq[Done] = wl.kinds.map { _ =>
      val d = execute(done.size, gen.next(), off)
      done += d
      afterEach()
      d
    }
    // Storage is read after every request of the first timed cycle only:
    // each cycle adds the checkpoints it does not release, and how many
    // cycles fit in a run depends on its speed.
    var storagePeak = 0L
    def readStorage(): Unit = {
      val (m, d, _) = BenchAccess.storageInUse(sc)
      storagePeak = storagePeak max (m + d)
    }
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    val timedBuf = mutable.ArrayBuffer.empty[Done]
    timedBuf ++= cycle(readStorage)
    while (elapsed < a.seconds) timedBuf ++= cycle()
    val loopS = elapsed
    val loopDone = timedBuf.toSeq
    val cycles = loopDone.size / wl.kinds.size

    // Untimed re-run of the stream's first requests, so the checker sees
    // each of their answers twice.
    wl.requests(a.seed).take(2).toSeq.foreach { r =>
      done += execute(done.size, r, off)
    }

    // ---- traced cycle: one seeded request of every kind ------------------
    // The first cycles of two streams of their own: fixed by the seed, so
    // the counters repeat exactly, and with fresh inputs, as in the loop.
    // The second is traced; the first gives each traced request an untraced
    // twin of its kind (and model), run next to it, alternating which goes
    // first, for the tracing overhead.
    val tracer = new Tracer(enabled = a.trace)
    val traced = mutable.ArrayBuffer.empty[(Done, SparkWork)]
    val overhead = mutable.ArrayBuffer.empty[Double]
    var heapPeak = 0.0
    var gcTraced = 0L
    if (a.trace) {
      val plain = wl.requests(a.seed + 7919L).take(wl.kinds.size).toSeq
      val cycle = wl.requests(a.seed + 7920L).take(wl.kinds.size).toSeq
      probe = new Probe(spark)
      cycle.zip(plain).zipWithIndex.foreach { case ((r, twin), j) =>
        def runTraced(): Done = {
          val i = done.size
          val gc0 = gcMs
          probe.begin(s"r$i")
          val d = execute(i, r, tracer)
          traced += ((d, probe.end(s"r$i")))
          gcTraced += gcMs - gc0
          heapPeak = heapPeak max heapMb
          done += d
          d
        }
        def runPlain(): Done = {
          val d = execute(done.size, twin, off)
          done += d
          d
        }
        val (t, u) =
          if (j % 2 == 0) { val u = runPlain(); (runTraced(), u) }
          else { val t = runTraced(); (t, runPlain()) }
        overhead += t.latencyS / u.latencyS - 1.0
      }
      probe.remove()
    }
    val storageEnd = BenchAccess.storageInUse(sc)
    val loadEnd = loadAvg

    // ---- metrics ----------------------------------------------------------
    val lats = loopDone.map(_.latencyS)
    val kindP50 = loopDone.groupBy(_.req.kind).map { case (k, ds) =>
      k -> median(ds.map(_.latencyS)) }
    val failed = loopDone.count(!_.ok)
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> median(setups.map(_._1)),
      "throughput_rps" -> loopDone.count(_.ok) / loopS,
      "latency_p50_s" -> median(lats),
      "storage_peak_mb" -> storagePeak / 1048576.0)
    val extra = mutable.LinkedHashMap[String, Any](
      "requests" -> loopDone.size, "cycles" -> cycles, "failed" -> failed,
      "loop_s" -> loopS, "prime_s" -> primeS,
      "setup_s_each" -> setups.map(_._1),
      "latency_p90_s" -> (if (lats.size >= 100) Some(pct(lats, 0.9)) else None),
      "latency_samples" -> lats.size,
      "kind_p50_s" -> kindP50)

    val layers = mutable.LinkedHashMap.empty[String, Any]
    if (a.trace) {
      def stepMed(k: String) =
        median(setups.map(_._2.getOrElse(k, 0.0)))
      layers("model.edges_load_s") = stepMed("edges_load_s")
      layers("model.rel_stats_s") = stepMed("rel_stats_s")
      layers("model.entity_dict_s") = stepMed("entity_dict_s")
      layers("model.setup_jobs") = setups.last._3.toDouble

      val byName = tracer.spans.groupBy(_.name)
      def spanMed(name: String, scale: Double): Double =
        byName.get(name).map(ss => median(ss.map(s => (s.endNs - s.startNs) / scale).toSeq))
          .getOrElse(0.0)
      layers("lang.parse_us") = spanMed("lang.parse", 1e3)
      layers("lang.dnf_us") = spanMed("lang.dnf", 1e3)
      layers("lang.querygraph_us") = spanMed("lang.querygraph", 1e3)
      layers("exec.build_ms") = spanMed("exec.build", 1e6)

      val ws = traced.map(_._2).toSeq
      val n = ws.size.toDouble max 1.0
      def mean(f: SparkWork => Double) = ws.map(f).sum / n
      def med(f: SparkWork => Double) = median(ws.map(f))
      layers("catalyst.analysis_ms") = med(_.analysisMs.toDouble)
      layers("catalyst.optimization_ms") = med(_.optimizationMs.toDouble)
      layers("catalyst.planning_ms") = med(_.planningMs.toDouble)
      layers("plan.exchanges") = mean(_.exchanges.toDouble)
      layers("plan.single_partition_exchanges") = mean(_.singlePartitionExchanges.toDouble)
      layers("plan.broadcasts") = mean(_.broadcasts.toDouble)
      layers("plan.non_codegen_nodes") = mean(_.nonCodegenNodes.toDouble)
      layers("spark.jobs") = mean(_.jobs.toDouble)
      layers("spark.stages") = mean(_.stages.toDouble)
      layers("spark.tasks") = mean(_.tasks.toDouble)
      layers("spark.task_wait_ms") = med(_.taskWaitMs.toDouble)
      layers("spark.driver_gap_ms") = median(traced.map { case (d, w) =>
        w.driverGapMs(d.startMs, d.endMs).toDouble }.toSeq)
      layers("spark.executor_run_ms") = med(_.executorRunMs.toDouble)
      layers("spark.executor_cpu_ms") = med(_.executorCpuNs / 1e6)
      layers("spark.shuffle_read_bytes") = mean(_.shuffleReadBytes.toDouble)
      layers("spark.shuffle_write_bytes") = mean(_.shuffleWriteBytes.toDouble)
      layers("spark.shuffle_records") = mean(_.shuffleRecords.toDouble)
      layers("exec.rows_examined_per_answer") =
        ws.map(_.scanRows).sum.toDouble / (traced.map(_._1.n).sum max 1L)
      layers("spark.spill_bytes") = mean(_.spillBytes.toDouble)
      layers("spark.task_gc_ms") = mean(_.taskGcMs.toDouble)
      layers("jvm.gc_ms") = gcTraced / n
      layers("jvm.heap_used_peak_mb") = heapPeak
      layers("storage.mem_mb_after") = storageEnd._1 / 1048576.0
      layers("storage.disk_mb_after") = storageEnd._2 / 1048576.0
      layers("storage.blocks_after") = storageEnd._3.toDouble
      layers("storage.leaked_mb") =
        (storageEnd._1 + storageEnd._2 - storageAfterSetup._1 -
          storageAfterSetup._2) / 1048576.0
      // Per-kind latency from the untraced loop.
      wl.kinds.foreach(k => layers(s"kind.$k.p50_s") = kindP50(k))
      layers("trace.overhead_pct") = 100.0 * median(overhead.toSeq)
    }

    // ---- span summary: total and self time per layer --------------------
    val self = tracer.selfNs
    val spanSummary = tracer.spans.groupBy(_.name).map { case (name, ss) =>
      name -> Map("count" -> ss.size,
        "total_ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum,
        "self_ms" -> ss.map(s => self(s.id) / 1e6).sum)
    }

    val rt = Runtime.getRuntime
    val context = mutable.LinkedHashMap[String, Any](
      "nproc" -> rt.availableProcessors, "master" -> sc.master,
      "heap_max_mb" -> rt.maxMemory / 1048576, "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "data" -> a.data, "setups" -> Setups, "seconds" -> a.seconds)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "context" -> context, "e2e" -> e2e, "extra" -> extra,
      "layers" -> layers,
      "setup_steps" -> setups.map(_._2),
      "spans" -> spanSummary,
      "kinds" -> wl.kinds,
      "oracle_context" -> wl.oracleContext)
    write(s"${a.work}/result.json", Seq(json.writeValueAsString(result)))

    write(s"${a.work}/answers.jsonl", done.toSeq.map { d =>
      val keepRows = Set("topk1p", "eval").contains(d.req.oracle("type").toString)
      json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "i" -> d.i, "kind" -> d.req.kind, "key" -> d.req.key, "ok" -> d.ok,
        "error" -> d.error, "digest" -> d.digest, "n" -> d.n,
        "latency_s" -> d.latencyS, "oracle" -> d.req.oracle,
        "rows" -> (if (keepRows) d.rows.map(_.toSeq) else Nil)))
    })
    if (a.trace)
      write(s"${a.work}/spans.jsonl", tracer.spans.map { s =>
        json.writeValueAsString(mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "parent" -> s.parent, "request" -> s.request,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "self_ns" -> self(s.id)))
      }.toSeq)
    spark.stop()
  }

  private def write(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
