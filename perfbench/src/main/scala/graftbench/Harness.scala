package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Caching

/** The benchmark's JVM side. One invocation is one run of one workload:
  *
  *  1. Setup: start a SparkSession, load the fixture, run the cold pass,
  *     which pins every op's output hash. The output checks follow, outside
  *     the setup timer.
  *  2. [[Harness.WarmupPasses]] untimed passes, while the JIT is still busy.
  *  3. Timed warm passes until their walls add up to `seconds`, each after a
  *     full GC and a pause for background JIT compilation.
  *  4. With `trace`, two more passes with the listeners attached and one
  *     untraced pass after them; the traced pair's per-layer split, the span
  *     file and the channel self-checks.
  *
  * A pass runs the workload's ops in order on one thread, starting from an
  * empty Spark cache and the session memo as it was before the first pass.
  * Every op's result is sunk by an exact hash over all columns, which every
  * pass must reproduce. Results go to `out/result.json`.
  *
  * Usage: Harness WORKLOAD DATA_DIR OUT_DIR SECONDS TRACE CORES */
object Harness {

  /** Untimed passes between the cold pass and the timed ones, per
    * workload. On loops the pass wall is flat after the first. On kernels
    * the JIT compiles about 6.5 s of CPU time in the first pass after the
    * cold one and about 4 s in the third; the wall falls about 4% more over
    * the next two passes, but more warm-up passes do not fit the run-time
    * budget. */
  val WarmupPasses = Map("kernels" -> 2, "loops" -> 1)

  final case class OpRun(name: String, tag: String, startMs: Long, buildEndMs: Long,
      endMs: Long, buildS: Double, sinkS: Double, wallS: Double, error: String,
      memoBuilds: Int, memoHits: Long, memoBuildS: Double)

  final case class Pass(index: Int, kind: String, wallS: Double, startMs: Long,
      endMs: Long, ops: Seq[OpRun], jitMs: Double, busyExcess: Double, loadavg: String,
      liveHeapMb: Double, quiesceS: Double)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, seconds, trace, cores) = args
    new Harness(workload, data, out, seconds.toDouble, trace == "1", cores.toInt).run()
  }

  def session(cores: Int, out: String): SparkSession =
    graft.sources.Scratch.tuneLocalFs(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()

  /** Exact, order-independent digest of a result: row count and the decimal
    * sum of xxhash64 over all columns. */
  def sink(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(df.col): _*).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), UTF_8) catch { case _: Exception => "" }

  /** (busy, total) jiffies over all CPUs, from /proc/stat. */
  def procStat(): (Long, Long) = {
    val f = read("/proc/stat").linesIterator.nextOption().getOrElse("cpu 0")
      .trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f.lift(3).getOrElse(0L) + f.lift(4).getOrElse(0L)
    (f.sum - idle, f.sum)
  }

  def loadavg(): String = read("/proc/loadavg").split(" ").take(3).mkString(" ")

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else 0L
  }

  /** Before a warm pass, outside its timer: collect garbage, so no pass pays
    * for the previous one's, and give background JIT compilation up to
    * `maxS` to finish. Returns the heap in use, MB, once it stops falling:
    * Spark's context cleaner frees blocks, shuffles and checkpoints on its
    * own thread after a collection has dropped their last reference. */
  def quiesce(maxS: Double): Double = {
    System.gc()
    val deadline = System.nanoTime() + (maxS * 1e9).toLong
    var last = -1L
    while (jitMs() != last && System.nanoTime() < deadline) {
      last = jitMs()
      Thread.sleep(200)
    }
    val rt = Runtime.getRuntime
    def usedAfterGc() = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var prev = Double.MaxValue
    var live = usedAfterGc()
    var rounds = 0
    while (prev - live > 1.0 && rounds < 5) {
      Thread.sleep(200)
      prev = live
      live = usedAfterGc()
      rounds += 1
    }
    live
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val TicksPerS = 100.0 // USER_HZ of /proc/stat

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Harness(workload: String, data: String, out: String, seconds: Double,
                    trace: Boolean, cores: Int) {
  import Harness._

  private var spark: SparkSession = _
  private var passNo = 0
  private var baseMemo: Set[String] = Set.empty
  private val pinned = mutable.HashMap[String, String]()
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private val json = new Json

  private def ops(pass: Int): Seq[Op] = workload match {
    case "kernels" => Ops.kernels(data, pass)
    case "loops" => Ops.loops(data)
  }

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }

  /** Footer reads and file listing of every input table. */
  private def loadFixture(): Unit = workload match {
    case "kernels" =>
      Ops.qSide(spark, data).schema; Ops.kvSide(spark, data).schema
    case "loops" =>
      Seq("lineitem", "documents").foreach(t => graft.sources.Tables.load(spark, data, t).schema)
  }

  /** Empty Spark cache and the session memo as it was before the first pass. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    Caching.memoDropNewerThan(baseMemo)
    Caching.memoWindowReset()
  }

  private def runPass(kind: String, keep: mutable.Map[String, DataFrame] = null): Pass = {
    val index = passNo
    passNo += 1
    reset()
    val q0 = System.nanoTime()
    val liveHeap = if (kind == "cold") 0.0 else quiesce(5.0)
    val quiesceS = (System.nanoTime() - q0) / 1e9
    val sc = spark.sparkContext
    val (busy0, total0) = procStat()
    val cpu0 = os.getProcessCpuTime
    val jit0 = jitMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val runs = ops(index).map { op =>
      val tag = s"$index/${op.name}"
      sc.setLocalProperty(Tracer.OpKey, tag)
      val keys0 = Caching.memoKeys().size
      val hits0 = Caching.memoWindowHits
      val memoS0 = Caching.memoWindowBuildS
      val s0 = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = a
      var s1 = s0
      var error = ""
      attempted += 1
      try {
        val df = op.build(spark)
        b = System.nanoTime()
        s1 = System.currentTimeMillis()
        val h = sink(df)
        pinned.get(op.name) match {
          case None => pinned(op.name) = h
          case Some(p) if p != h => error = s"hash $h != pinned $p"
          case _ =>
        }
        if (keep != null) keep(op.name) = df
      } catch {
        case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      val c = System.nanoTime()
      if (b == a) { b = c; s1 = System.currentTimeMillis() }
      if (error.nonEmpty) fail(s"pass $index ${op.name}: $error")
      OpRun(op.name, tag, s0, s1, System.currentTimeMillis(), (b - a) / 1e9, (c - b) / 1e9,
        (c - a) / 1e9, error, Caching.memoKeys().size - keys0,
        Caching.memoWindowHits - hits0, Caching.memoWindowBuildS - memoS0)
    }
    sc.setLocalProperty(Tracer.OpKey, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val (busy1, total1) = procStat()
    val ownTicks = (os.getProcessCpuTime - cpu0) / 1e9 * TicksPerS
    val busyExcess = if (total1 > total0) ((busy1 - busy0) - ownTicks) / (total1 - total0) else 0.0
    Pass(index, kind, wall, startMs, System.currentTimeMillis(), runs,
      (jitMs() - jit0).toDouble, busyExcess, loadavg(), liveHeap, quiesceS)
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(out))
    val passes = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    spark = session(cores, out)
    spark.sparkContext.setLogLevel("ERROR")
    baseMemo = Caching.memoKeys()
    val sessionS = (System.nanoTime() - t0) / 1e9
    loadFixture()
    val keep = mutable.LinkedHashMap[String, DataFrame]()
    passes += runPass("cold", keep)
    val setupS = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    check(keep)
    keep.clear()
    json.num("check_s", (System.nanoTime() - c0) / 1e9)
    for (_ <- 1 to WarmupPasses(workload)) passes += runPass("warmup")
    // timed passes until their walls add up to `seconds`
    val warm = mutable.ArrayBuffer[Pass]()
    while (warm.map(_.wallS).sum < seconds) warm += runPass("warm")
    passes ++= warm
    // the heap the program holds once the first timed pass is done, i.e.
    // after a fixed amount of work: it grows by a few MB with every pass
    val liveHeap = if (warm.size > 1) warm(1).liveHeapMb else { reset(); quiesce(5.0) }

    json.num("setup_s", setupS)
    json.num("session_s", sessionS)
    json.num("live_heap_mb", liveHeap)
    json.num("peak_rss_mb", peakRssMb())
    if (trace) traced(passes)
    json.raw("passes", passes.map(passJson).mkString("[", ",", "]"))
    json.num("attempted", attempted.toDouble)
    json.strs("failures", failures.toSeq)
    spark.stop()
    Files.write(Paths.get(s"$out/result.json"), json.render.getBytes(UTF_8))
  }

  private def passJson(p: Pass): String = {
    val j = new Json
    j.num("index", p.index.toDouble); j.str("kind", p.kind); j.num("wall_s", p.wallS)
    j.num("jit_ms", p.jitMs); j.num("busy_excess", p.busyExcess); j.str("loadavg", p.loadavg)
    j.num("live_heap_mb", p.liveHeapMb); j.num("quiesce_s", p.quiesceS)
    j.raw("ops", p.ops.map { o =>
      val k = new Json
      k.str("name", o.name); k.num("wall_s", o.wallS); k.num("build_s", o.buildS)
      k.num("sink_s", o.sinkS); k.str("error", o.error)
      k.render
    }.mkString("[", ",", "]"))
    j.render
  }

  // ---------------------------------------------------------------- checks

  /** Output checks on the cold pass's results, outside every timed window.
    * `loops`: each op's output is written as parquet with its DuckDB
    * oracle's SQL, for the run script to compare. `kernels`: on all query
    * rows, both plans of every kernel must agree with the plain loop and
    * with each other within one rounding step. */
  private def check(cold: mutable.Map[String, DataFrame]): Unit = workload match {
    case "loops" =>
      val oracle = new Json
      for ((name, df) <- cold) {
        attempted += 1
        try {
          df.write.mode("overwrite").parquet(s"$out/check/$name")
          oracle.str(name, graft.SparkEntry.oracleSql(name))
        } catch { case e: Throwable => fail(s"check $name: ${e.getMessage}".take(300)) }
      }
      json.raw("oracle", oracle.render)
    case "kernels" =>
      val in = l0Inputs
      for (k <- Ops.kernelNames) {
        val want = L0.run(k, in, in.q.length)
        val digits = if (k == "sampler") 6 else 4
        val got = for ((arm, _) <- Ops.modes) yield {
          attempted += 1
          try {
            val out = collectOut(k, cold(s"$k.$arm"))
            val bad = L0.mismatches(out, want, digits)
            if (bad.nonEmpty) fail(s"check $k.$arm vs plain loop: ${bad.mkString("; ")}")
            Some(out)
          } catch { case e: Throwable => fail(s"check $k.$arm: ${e.getMessage}".take(300)); None }
        }
        got match {
          case Seq(Some(a), Some(b)) =>
            val bad = L0.mismatches(b, a, digits)
            if (bad.nonEmpty) fail(s"check $k: the two plans disagree: ${bad.mkString("; ")}")
          case _ =>
        }
      }
  }

  private def collectOut(kernel: String, df: DataFrame): L0.Out =
    df.collect().map { r =>
      kernel match {
        case "attention" | "mlp" => (r.getLong(0), r.getLong(1)) -> (0L, r.getDouble(2))
        case "sampler" => (r.getLong(0), 0L) -> (r.getLong(1), r.getDouble(2))
        case _ => (r.getLong(0), 0L) -> (0L, r.getDouble(1))
      }
    }.toMap

  private lazy val l0Inputs: L0.Inputs = {
    val q = Ops.qSide(spark, data).orderBy("q_id").collect()
    val kv = Ops.kvSide(spark, data).orderBy("k_id").collect()
    def vec(r: org.apache.spark.sql.Row, i: Int) = r.getSeq[Double](i).toArray
    L0.Inputs(q.map(vec(_, 1)), q.map(_.getLong(2)), kv.map(vec(_, 1)), kv.map(vec(_, 2)))
  }

  // ----------------------------------------------------------------- trace

  /** Two traced passes: per-layer metrics, spans and self-checks. */
  private def traced(passes: mutable.ArrayBuffer[Pass]): Unit = {
    val tracer = new Tracer
    val sc = spark.sparkContext
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer.queryListener)
    spark.streams.addListener(tracer.streamListener)
    val tp = Seq(runPass("traced"), runPass("traced"))
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer.queryListener)
    spark.streams.removeListener(tracer.streamListener)
    // one more untraced pass: the traced pair sits between two untraced
    // ones, so JIT warm-up drift cancels out of the tracing overhead
    passes ++= tp :+ runPass("after")

    val layers = new Layers(tracer, cores)
    val perPass = tp.map(layers.pass)
    val names = perPass.head.keys.toSeq.sorted
    val m = new Json
    for (n <- names) m.num(n, median(perPass.map(_(n))))
    m.num("jvm.jit_ms", median(passes.filter(_.kind == "warm").map(_.jitMs).toSeq))
    if (workload == "kernels") {
      val in = l0Inputs
      val rows = math.min(L0.TimedRows, in.q.length)
      for (k <- Ops.kernelNames)
        m.num(s"kernel.$k.l0.pairs_per_s_core", L0.pairsPerSecond(k, in, rows, 0.3))
    }
    val traceWall = median(tp.map(_.wallS))
    m.num("trace.wall_s", traceWall)
    json.raw("layers", m.render)
    val (ok, notes) = layers.selfCheck(tp, shortOps)
    json.num("selfcheck_ok", if (ok) 1.0 else 0.0)
    json.strs("selfcheck_notes", notes)
    Files.write(Paths.get(s"$out/spans.jsonl"), layers.spans(tp).mkString("\n").getBytes(UTF_8))
  }

  /** The two short ops the channel self-checks run on. */
  private def shortOps: Seq[String] = workload match {
    case "kernels" => Seq("entropy.blocked", "entropy.broadcast")
    case "loops" => Seq("parts_kcore", "heavy_hitters_stream")
  }
}

/** Minimal JSON object writer. */
final class Json {
  private val fields = mutable.ArrayBuffer[String]()
  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def n(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
  def raw(k: String, v: String): Unit = fields += s"${q(k)}:$v"
  def str(k: String, v: String): Unit = raw(k, q(v))
  def num(k: String, v: Double): Unit = raw(k, n(v))
  def num(k: String, v: Seq[Double]): Unit = raw(k, v.map(n).mkString("[", ",", "]"))
  def strs(k: String, v: Seq[String]): Unit = raw(k, v.map(q).mkString("[", ",", "]"))
  def render: String = fields.mkString("{", ",", "}")
}
