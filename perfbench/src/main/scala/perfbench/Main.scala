package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Probe
import org.apache.spark.sql.SparkSession

/** The benchmark's engine side: one closed-loop client in one process.
  *
  * {{{
  * java ... perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <fresh run dir>
  * }}}
  *
  * Set-up generates the inputs from the seed into a fresh directory
  * [[SetupRounds]] times (the last copy is used), then runs one warm-up
  * pass; `setup_s` is the median generation time plus the warm-up pass.
  * The timed phase then repeats passes over the workload's
  * operations until `--seconds` have elapsed. Outputs are checked after the
  * timed phase. With `--trace 1` the listener and spans are switched on
  * for one more phase of the same length, then off for a last one; the
  * traced pass median minus that last phase's is the tracing overhead, and
  * the per-layer metrics are per traced pass.
  *
  * Results go to `<work>/result.json` (read by `run.py`), spans to
  * `<work>/spans.jsonl`. A failed set-up step exits with code 3 and names
  * the step.
  */
object Main {
  val SetupRounds = 3

  final class SetupFailure(val step: String, cause: Throwable)
      extends RuntimeException(s"set-up step '$step' failed: $cause", cause)

  def setupStep[T](step: String)(body: => T): T =
    try body catch { case e: Throwable => throw new SetupFailure(step, e) }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try {
      val run = new Run(spark, workload, a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", work, cpus)
      Files.writeString(work.resolve("result.json"), Json(run.go()))
      0
    } catch {
      case e: SetupFailure =>
        System.err.println(e.getMessage)
        e.getCause.printStackTrace()
        3
    } finally spark.stop()
    sys.exit(code)
  }
}

/** Timers and spans of one run. Layer totals are always kept (they are
  * cheap); spans and listener counts only when tracing.
  */
final class Recorder(val runId: String) {
  import Recorder.Span

  var probe: Option[Probe] = None
  var tracing = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val layerNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var stack: List[Int] = Nil
  private var nextId = 0
  val t0: Long = System.nanoTime()

  def span[T](name: String, layer: String = "")(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val c0 = if (tracing) probe.map(_.counts.toMap).getOrElse(Map.empty) else Map.empty[String, Long]
    stack = id :: stack
    val s = System.nanoTime()
    try body finally {
      val e = System.nanoTime()
      stack = stack.tail
      if (layer.nonEmpty) layerNs(layer) += e - s
      if (tracing)
        spans += Span(id, name, parent, s - t0, e - t0, c0,
          probe.map(_.counts.toMap).getOrElse(Map.empty))
    }
  }

  def spansJsonl: String = spans.map { s =>
    Json(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "counts_start" -> s.counts0, "counts_end" -> s.counts1))
  }.mkString("", "\n", "\n")
}

object Recorder {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long, counts0: Map[String, Long], counts1: Map[String, Long])
}

/** One operation's record over the timed phase. */
final class OpStats {
  var n = 0
  var failed = 0
  var error = ""
  val latencies = mutable.ArrayBuffer.empty[Double]
}

/** What a workload supplies: a fresh set-up round, one pass over its
  * operations (each through [[Run.op]]), the check of its outputs, and its
  * per-layer extras.
  */
trait Workload {
  def prepare(round: Int): Unit
  /** A negative `n` is the warm-up pass. */
  def pass(n: Int): Unit
  /** Called between passes, outside the timed pass. */
  def afterPass(n: Int): Unit = ()
  /** Failed checks: op name → reason. */
  def check(): Map[String, String]
  /** Per-layer extras, from the traced passes' layer timers. */
  def layerMetrics(layerNs: Map[String, Long], passes: Int): Map[String, Double] = Map.empty
  def info: Map[String, Any] = Map.empty
}

final class Run(val spark: SparkSession, workload: String, val seed: Long,
                seconds: Double, val trace: Boolean, val work: Path, cpus: Int) {
  val rec = new Recorder(s"$workload-$seed-${ProcessHandle.current().pid()}")
  val ops = mutable.LinkedHashMap.empty[String, OpStats]
  private var timing = false
  // traced passes only: wall intervals, and what survived release()
  private val passIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var leakRdds = 0L
  private var leakPlans = 0L

  /** Runs one operation: timed, its failure recorded (during the timed
    * phase) or fatal (during set-up), and the default cache scope released
    * after it, as a caller of the engine does between pipeline steps.
    */
  def op(name: String, layer: String)(body: => Unit): Unit = {
    val s = System.nanoTime()
    val err = try { rec.span(s"op:$name", layer)(body); None }
    catch { case e: Throwable if timing => Some(e) }
    val dt = (System.nanoTime() - s) / 1e9
    graft.ops.CacheScope.default.release()
    if (timing) {
      val st = ops.getOrElseUpdate(name, new OpStats)
      st.n += 1; st.latencies += dt
      err.foreach { e =>
        st.failed += 1
        if (st.error.isEmpty) st.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def warehouse: Path = work.resolve("warehouse")
  /** Bytes of the parquet files of `tables` under `dir`. */
  def inputBytes(dir: Path, tables: Seq[String]): Long =
    tables.flatMap(t => Files.walk(dir.resolve(s"$t.parquet")).iterator().asScala)
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  private def workloadOf(name: String): Workload = name match {
    case "registry" => new Registry(this, Registry.singlePass ++ Registry.iterative, sf = 0.01)
    case "index_churn" => new IndexChurn(this)
    case "paper_flow" => new PaperFlow(this)
    case other => throw new Main.SetupFailure("workload", new IllegalArgumentException(other))
  }

  /** Collects garbage, then waits (at most 5 s) until the JIT compiler has
    * been idle for 300 ms, so that a pass does not share the cores with
    * compilations queued by the one before it.
    */
  private def quiesce(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 5000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < until) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
  }

  /** One timed phase: whole passes until `seconds` have elapsed. When
    * tracing, also records each pass's wall interval and counts the
    * persisted RDDs and cached plans a pass leaves behind.
    */
  private def timedPhase(w: Workload, firstPass: Int): Seq[Double] = {
    val passes = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val n = firstPass + passes.size
      quiesce()
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val plans0 = Probe.cachedPlans(spark)
      val w0 = System.currentTimeMillis()
      val s = System.nanoTime()
      timing = true
      rec.span(s"pass:$n")(w.pass(n))
      timing = false
      passes += (System.nanoTime() - s) / 1e9
      if (rec.tracing) {
        passIntervals += ((w0, System.currentTimeMillis()))
        leakRdds += (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0).size
        leakPlans += math.max(0, Probe.cachedPlans(spark) - plans0)
      }
      w.afterPass(n)
    }
    passes.toSeq
  }

  def go(): Map[String, Any] = {
    val w = Main.setupStep("workload")(workloadOf(workload))
    val genTimes = (0 until Main.SetupRounds).map { r =>
      val s = System.nanoTime()
      rec.span(s"setup:generate:$r")(
        Main.setupStep(s"set-up round $r: generate inputs")(w.prepare(r)))
      (System.nanoTime() - s) / 1e9
    }
    val s = System.nanoTime()
    rec.span("setup:warm-up")(Main.setupStep("warm-up pass")(w.pass(-1)))
    Main.setupStep("reset after the warm-up pass")(w.afterPass(-1))
    val warmS = (System.nanoTime() - s) / 1e9

    val untraced = timedPhase(w, 0)
    var untracedAfter = Seq.empty[Double]
    val layerOut = mutable.LinkedHashMap.empty[String, Double]
    val passes = if (!trace) untraced else {
      // a traced phase, then an untraced one to compare it with: the first
      // untraced phase is still warming (the first index churn pass runs
      // its write paths cold), so it would hide the overhead, while warming
      // after the traced phase only overstates it; the listener, spans and
      // layer timers cover the traced phase
      val probe = Probe.attach(spark)
      rec.probe = Some(probe); rec.tracing = true
      rec.layerNs.clear()
      ops.clear()
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      probe.drain()
      val c0 = probe.counts
      val traced = timedPhase(w, untraced.size)
      probe.drain()
      val c = probe.counts - c0
      val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      val layerNs = rec.layerNs.toMap.withDefaultValue(0L)
      Probe.detach(spark, probe)
      rec.probe = None; rec.tracing = false
      untracedAfter = timedPhase(w, untraced.size + traced.size)
      val n = traced.size.toDouble
      val taskS = c.taskNs / 1e9
      layerOut ++= Seq(
        "entry.build_s" -> layerNs("entry.build") / 1e9 / n,
        "spark.plan_s" -> c.planNs / 1e9 / n,
        "spark.jobs" -> c.jobs / n,
        "spark.stages" -> c.stages / n,
        "spark.tasks" -> c.tasks / n,
        "spark.driver_gap_s" -> passIntervals.map { case (a, b) => probe.gapMs(a, b) }.sum / 1000.0 / n,
        "spark.task_s" -> taskS / n,
        "spark.task_cpu_s" -> c.taskCpuNs / 1e9 / n,
        "spark.busy_cores" -> taskS / traced.sum,
        "spark.shuffle_write_mb" -> c.shuffleWrite / 1e6 / n,
        "spark.shuffle_read_mb" -> c.shuffleRead / 1e6 / n,
        "spark.spill_mb" -> c.spill / 1e6 / n,
        "spark.exchanges" -> c.exchanges / n,
        "index.bytes_written_mb" -> c.output / 1e6 / n,
        "cache.rdds_left" -> leakRdds / n,
        "cache.plans_left" -> leakPlans / n,
        "jvm.gc_s" -> gcS / n,
        "jvm.heap_peak_mb" -> heapMb,
        "trace.overhead_s" -> (median(traced) - median(untracedAfter)))
      Seq("relational", "event", "text", "dedup", "similarity", "graph").foreach { m =>
        layerOut(s"ops.${m}_s") = layerNs(s"ops.$m") / 1e9 / n
      }
      Layers.timed.foreach(l => layerOut(s"${l}_s") = layerNs(l) / 1e9 / n)
      layerOut ++= w.layerMetrics(layerNs, traced.size)
      Layers.zeroUnlessSet.foreach(k => layerOut.getOrElseUpdate(k, 0.0))
      traced
    }

    val checks = w.check()
    Files.writeString(work.resolve("spans.jsonl"), rec.spansJsonl)
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "generate_s" -> genTimes, "warmup_s" -> warmS,
      "setup_s" -> (median(genTimes) + warmS), "pass_s" -> passes,
      "untraced_after_s" -> untracedAfter,
      "peak_rss_mb" -> hwmKb / 1024.0,
      "ops" -> ops.map { case (k, st) =>
        k -> Map("n" -> st.n, "failed" -> st.failed, "error" -> st.error,
          "latencies" -> st.latencies.toSeq)
      }.toMap,
      "check_failures" -> checks,
      "layers" -> layerOut.toMap,
      "info" -> w.info)
  }
}

/** Per-layer timers every traced run reports, zero where a workload does
  * not reach the layer.
  */
object Layers {
  private val families = Seq(
    "banded" -> "build append delete compact probe",
    "ivf" -> "build append delete compact maintain probe")
  val timed: Seq[String] =
    families.flatMap { case (f, vs) => vs.split(' ').map(v => s"index.$f.$v") } ++
      Seq("load", "labels", "ohe", "ar", "standardize", "assemble", "split", "score",
        "metrics").map(s => s"ml.$s")
  val zeroUnlessSet: Seq[String] = Seq("ml.cluster_fit_s", "ml.rf_fit_s", "index.files",
    "index.stored_bytes_ratio")
}

/** Minimal JSON writer for the result and span files. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
