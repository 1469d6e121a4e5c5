package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.collection.mutable

/** Benchmark harness entry point, launched by `perfbench/run.py`.
  *
  * `Main <workload> <seed> <seconds> <trace 0|1> <runDir> <cores> [inputDir]`
  *
  * One JVM, one client in a closed loop: each workload runs its set-up, then
  * repeats its cycle until `seconds` have passed (the cycle in flight
  * finishes). Every timed call is an [[Op]] with its own output check; a
  * call that throws or fails its check counts as failed and contributes no
  * timing. Raw samples go to `runDir/result.json`; `run.py` reduces them.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, coresS) = args.take(6)
    val input = args.lift(6)
    val rec = new Recorder(workload, seedS.toLong, traceS == "1", coresS.toInt)
    val deadlineS = secondsS.toDouble
    val spark = rec.setupStep("session") { graft.Engine.session(s"local[$coresS]") }
    rec.spark = spark
    val w: Workload = workload match {
      case "tf_estate" => new TfEstate(spark, rec, Paths.get(runDir, "estate"))
      case "ops_mix"   => new OpsMix(spark, rec, input.get)
      case "idx_rw"    => new IdxRw(spark, rec, input.get)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      // a traced run also traces set-up, so one-off verbs (index builds)
      // get their listener counters
      rec.beginCycle(-1, traced = rec.trace)
      w.setup()
      // untimed warm-up cycles: the first run of a cycle's exact plans
      // still compiles (JIT, whole-stage codegen), so the timed loop starts
      // warm; their ops are still checked
      (1 to w.warmCycles).foreach { i =>
        rec.beginCycle(-1 - i, traced = false)
        rec.setupStep("warm_cycle")(rec.warming(w.cycle(-1 - i)))
      }
      rec.startTimed()
      val t0 = System.nanoTime()
      var cycle = 0
      // closed loop: the next cycle starts only after the previous ends
      // a traced run needs at least one untraced and one traced cycle
      val minCycles = if (rec.trace) math.max(2, w.minCycles) else w.minCycles
      while (cycle < minCycles || (System.nanoTime() - t0) / 1e9 < deadlineS) {
        // a traced run alternates untraced and traced cycles: per-layer
        // numbers come from the traced ones, and the two medians give the
        // tracing overhead
        rec.beginCycle(cycle, traced = rec.trace && cycle % 2 == 1)
        val c0 = System.nanoTime()
        rec.tracer.span(s"cycle") { w.cycle(cycle) }
        rec.cycles += ((System.nanoTime() - c0) / 1e9 -> rec.tracer.enabled)
        cycle += 1
      }
      rec.beginCycle(cycle, traced = false)
      w.finish()
      if (rec.trace) rec.tracer.withEnabled(w.layers())
    } catch {
      case e: Throwable =>
        rec.fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    rec.write(Paths.get(runDir, "result.json"))
    spark.stop()
  }
}

/** One workload: untimed set-up, a repeated timed cycle, and the traced
  * run's extra single-layer probes. */
trait Workload {
  def minCycles: Int = 2
  /** Untimed cycles run at the end of set-up. */
  def warmCycles: Int = 0
  def setup(): Unit
  def cycle(i: Int): Unit
  def layers(): Unit
  /** Called once after the timed loop, before the traced-run probes. */
  def finish(): Unit = ()
}

/** Spans kept in memory and written at the end: name, start, end, parent.
  * While disabled it records nothing. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  private var stack: List[Int] = Nil

  def withEnabled[T](f: => T): T = {
    val was = enabled
    enabled = true
    try f finally enabled = was
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.length, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }
}

/** Stage/task counters fed by the benchmark's own SparkListener. The bus
  * is drained before each snapshot so no tail event leaks into the next
  * interval. Stage intervals are kept so driver-only time (wall minus the
  * union of stage intervals) can be computed per call. */
final class StageMetrics extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskNs = 0L
  @volatile var inputBytes = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var bytesWritten = 0L
  /** (submission ms, completion ms) of completed stages. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) intervals.add((a, b))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  final case class Snap(stages: Long, tasks: Long, taskNs: Long, input: Long,
      shuffleWrite: Long, spill: Long, written: Long, atMs: Long)

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    synchronized {
      Snap(stages, tasks, taskNs, inputBytes, shuffleWrite, spill, bytesWritten,
        System.currentTimeMillis())
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one stage. */
  def stageCoverMs(fromMs: Long, toMs: Long): Long = {
    val iv = intervals.toArray(Array.empty[(Long, Long)])
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Collects everything a run reports: set-up steps, timed ops with their
  * check verdicts, cycle times, named per-cycle series, layer metrics and
  * spans. */
final class Recorder(val workload: String, val seed: Long, val trace: Boolean, val cores: Int) {
  final case class Op(kind: String, name: String, cycle: Int, secs: Double, ok: Boolean,
      traced: Boolean)
  /** Per-(kind, name) totals over traced calls: wall, driver-only time and
    * the listener's counters. */
  final class OpStats {
    var calls = 0
    var wallS, driverS, taskS, shuffleMb, spillMb, writtenMb = 0.0
    var stages, tasks = 0L
  }
  val tracer = new Tracer
  val metrics = new StageMetrics
  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[Op]
  val opStats = mutable.LinkedHashMap.empty[(String, String), OpStats]
  val cycles = mutable.ArrayBuffer.empty[(Double, Boolean)]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val genSecs = mutable.ArrayBuffer.empty[Double]
  val series = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var setupChecks = 0
  var cycle = -1
  var fatal: Option[String] = None
  private var timedStartMs = 0L
  private var warm = false

  /** Runs `f` as warm-up: its ops are checked, but it adds no samples. */
  def warming[T](f: => T): T = {
    warm = true
    try f finally warm = false
  }

  def setupStep[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(s"setup.$name")(f)
    setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    log(s"setup $name ${setup(name)}")
    r
  }

  def beginCycle(c: Int, traced: Boolean): Unit = {
    cycle = c
    if (traced != tracer.enabled) {
      if (traced) spark.sparkContext.addSparkListener(metrics)
      else spark.sparkContext.removeSparkListener(metrics)
      tracer.enabled = traced
    }
  }

  def startTimed(): Unit = timedStartMs = System.currentTimeMillis()

  /** A set-up check: not an op, but a failure still marks the run incorrect. */
  def checkSetup(name: String, ok: Boolean, detail: => String): Unit = {
    setupChecks += 1
    if (!ok) failures += s"setup/$name: $detail"
  }

  /** One timed call. `check` returns None when the output is right, or the
    * reason it is wrong. Failed or throwing calls keep no timing. */
  def op[T](kind: String, name: String)(f: => T)(check: T => Option[String]): Option[T] = {
    val traced = tracer.enabled
    val before = if (traced) Some(metrics.snap(spark)) else None
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(s"$kind.$name")(f))
      catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    before.foreach { b =>
      val a = metrics.snap(spark)
      val st = opStats.getOrElseUpdate((kind, name), new OpStats)
      st.calls += 1
      st.wallS += secs
      st.driverS += math.max(0.0, secs - metrics.stageCoverMs(b.atMs, a.atMs) / 1e3)
      st.stages += a.stages - b.stages
      st.tasks += a.tasks - b.tasks
      st.taskS += (a.taskNs - b.taskNs) / 1e9
      st.shuffleMb += (a.shuffleWrite - b.shuffleWrite) / 1048576.0
      st.spillMb += (a.spill - b.spill) / 1048576.0
      st.writtenMb += (a.written - b.written) / 1048576.0
    }
    val verdict = res.flatMap { v =>
      try check(v).toLeft(v)
      catch { case e: Throwable => Left(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    log(s"op $kind/$name cycle=$cycle secs=$secs ok=${verdict.isRight}")
    verdict match {
      case Right(v) =>
        ops += Op(kind, name, cycle, secs, ok = true, traced)
        Some(v)
      case Left(why) =>
        ops += Op(kind, name, cycle, secs, ok = false, traced)
        failures += s"$kind/$name (cycle $cycle): ${why.take(300)}"
        None
    }
  }

  /** Progress line for the run's log (not part of the result). */
  def log(msg: String): Unit = println(s"[perfbench] $msg")

  def sample(name: String, unit: String, v: Double): Unit =
    if (!warm) series.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  private def peakRssMb: Double = {
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    st.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def write(path: Path): Unit = {
    import Json._
    // span times in microseconds since the first span
    val base = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spanArr = tracer.spans.map { s =>
      arr(num(s.id), num(s.parent), str(s.name), num((s.startNs - base) / 1000),
        num((s.endNs - base) / 1000))
    }
    val doc = obj(
      "workload" -> str(workload), "seed" -> num(seed), "cores" -> num(cores),
      "trace" -> bool(trace),
      "timed_start_ms" -> num(timedStartMs),
      "setup" -> obj(setup.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "gen_s" -> arr(genSecs.map(num).toSeq: _*),
      "setup_checks" -> num(setupChecks),
      "ops" -> arr(ops.map(o => arr(str(o.kind), str(o.name), num(o.cycle), num(o.secs),
        bool(o.ok), bool(o.traced))).toSeq: _*),
      "cycles" -> arr(cycles.map { case (c, t) => arr(num(c), bool(t)) }.toSeq: _*),
      "series" -> obj(series.toSeq.map { case (k, (u, vs)) =>
        k -> obj("unit" -> str(u), "values" -> arr(vs.map(num).toSeq: _*)) }: _*),
      "layers" -> obj(layers.toSeq.map { case (k, (v, u)) =>
        k -> obj("value" -> num(v), "unit" -> str(u)) }: _*),
      "failures" -> arr(failures.map(str).toSeq: _*),
      "notes" -> obj(notes.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "fatal" -> fatal.map(str).getOrElse("null"),
      "peak_rss_mb" -> num(peakRssMb),
      "spans" -> arr(spanArr.toSeq: _*))
    Files.write(path, doc.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering (the harness has no JSON dependency). Numbers
  * are rendered with Locale.ROOT so the output never depends on locale. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(d))
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: String*): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
