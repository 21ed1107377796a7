package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: builds the session, sets the workload up, runs
  * its op in a closed loop (one client) for the requested seconds, and
  * writes one JSON record per line to `--out`. `perfbench/run.py`
  * launches this and turns the records into metrics.
  *
  * Records:
  *  - `setup`: the set-up phases, in seconds;
  *  - `op`: one per measured op — wall and process CPU seconds, and
  *    whether it passed its output check (a failed op carries the
  *    reason, and its times are never used);
  *  - `span` (traced runs only): one per layer call, with its counters
  *    and the (launch, finish) interval of every task it ran; phase
  *    `op` for the calls that make up a traced op, `setup` and `detail`
  *    for calls made in set-up or between ops (those are not part of
  *    any op's sums);
  *  - `tasks`: counters over every task of the measured ops;
  *  - `info`: workload-specific numbers (recall, build time, ...);
  *  - `host`: trust metadata (steal/iowait, load, GC, seed, nproc). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new Out(new File(a.out))
    val host0 = Host.sample()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${a.workload}")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", graft.core.Scratch.localDir())
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val w: Workload = a.workload match {
        case "curate" => new CurateWorkload(spark, rec, a.seed, a.work)
        case "ann" => new AnnWorkload(spark, rec, a.seed, a.work)
        case other => sys.error(s"unknown workload '$other'")
      }
      w.tracing = a.trace
      val phases = w.setUp()
      out.obj("rec" -> "setup", "session_s" -> sessionS, "phases" -> ListMap(phases: _*))
      w.emitSpans(out, "setup", -1)
      rec.take() // set-up tasks are not measured
      val cpu = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      // a traced run alternates traced and untraced ops, so it measures
      // its own tracing overhead; it needs at least one of each
      val minOps = math.max(w.minOps, if (a.trace) 2 else 1)
      var i = 0
      val measured = ArrayBuffer.empty[Recorder.Reading]
      while (i < minOps || System.nanoTime() < deadline) {
        w.tracing = a.trace && i % 2 == 0
        val c0 = cpu.getProcessCpuTime
        val s0 = System.nanoTime()
        val result =
          try w.op(i)
          catch { case e: Throwable => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
        val wall = (System.nanoTime() - s0) / 1e9
        val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
        result match {
          case Right(_) => out.obj("rec" -> "op", "i" -> i, "ok" -> true,
            "traced" -> w.tracing, "wall_s" -> wall, "cpu_s" -> cpuS)
          case Left(why) => out.obj("rec" -> "op", "i" -> i, "ok" -> false,
            "traced" -> w.tracing, "why" -> why.take(500))
        }
        w.emitSpans(out, "op", i)
        if (!a.trace) measured += rec.take()
        w.afterOp(i)
        w.emitSpans(out, "detail", i)
        if (!a.trace) rec.take() // work between ops is not measured
        i += 1
      }
      if (!a.trace) {
        out.obj("rec" -> "tasks",
          "peak_exec_mem_mb" -> measured.map(_.peakExecBytes).max / 1048576.0,
          "jobs" -> measured.map(_.jobs).sum, "ops" -> measured.length)
      }
      out.obj(("rec" -> "info") +: w.info: _*)
    } finally {
      spark.stop()
      val h = Host.sample()
      out.obj("rec" -> "host", "seed" -> a.seed,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "steal_s" -> Host.delta(host0.stealCs, h.stealCs) / 100.0,
        "iowait_s" -> Host.delta(host0.iowaitCs, h.iowaitCs) / 100.0,
        "load1_start" -> host0.load1, "load1_end" -> h.load1,
        "gc_ms" -> Host.gcMs())
      out.close()
    }
  }
}

/** A workload: seeded inputs, a warm-up, and a repeatable op. `op`
  * returns Left(reason) when its output check fails; while `tracing` it
  * appends one [[Span]] per layer call to `spans`. */
abstract class Workload(val rec: Recorder) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  /** Set while tracing: [[span]] records only then. */
  var tracing = false

  /** Run `f` with tracing off (warm-ups are never traced). */
  protected def untraced[A](f: => A): A = {
    val was = tracing
    tracing = false
    try f finally tracing = was
  }

  def emitSpans(out: Out, phase: String, i: Int): Unit = {
    spans.foreach(s => out.obj(s.fields ++ Seq("phase" -> phase, "op" -> i): _*))
    spans.clear()
  }

  /** Generate inputs and warm up; returns the named phase times (s). */
  def setUp(): Seq[(String, Any)]
  def op(i: Int): Either[String, Unit]
  /** Ops measured even if `--seconds` runs out first. */
  def minOps: Int = 1
  /** Untimed work between op `i` and the next; spans recorded here are
    * `detail` spans, outside the op's sums. */
  def afterOp(i: Int): Unit = ()
  def info: Seq[(String, Any)] = Nil

  /** Time `f` as the span `name`, draining the listener bus on both
    * sides so the span's counters hold exactly its own tasks. */
  def span[A](name: String)(f: => A): A = if (!tracing) f else {
    rec.take()
    val start = System.currentTimeMillis()
    val s0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - s0) / 1e9
    val end = System.currentTimeMillis()
    spans += Span(name, start, end, wall, rec.take())
    r
  }

  /** [[span]] around a collect, recording the rows it returned. */
  def spanCollect[A](name: String)(f: => Array[A]): Array[A] = {
    val rows = span(name)(f)
    if (tracing) spans(spans.length - 1) = spans.last.copy(results = rows.length)
    rows
  }

  protected def timed[A](f: => A): (A, Double) = {
    val s0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - s0) / 1e9)
  }
}

final case class Span(name: String, startMs: Long, endMs: Long, wallS: Double,
                      r: Recorder.Reading, results: Long = -1) {
  def fields: Seq[(String, Any)] = Seq("rec" -> "span", "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wallS,
    "jobs" -> r.jobs, "task_s" -> r.taskMs / 1000.0,
    "shuffle_mb" -> r.shuffleBytes / 1048576.0,
    "spill_mb" -> r.spillBytes / 1048576.0,
    "records_read" -> r.recordsRead, "results" -> results,
    "tasks" -> r.tasks.map { case (s, e) => Seq(s, e) })
}

/** Host trust metadata, read the way `graft.Bench` reads it. */
object Host {
  final case class Sample(stealCs: Long, iowaitCs: Long, load1: Double)

  def sample(): Sample = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).getOrElse(Array.empty[String])
    def field(i: Int) = if (cpu.length > i) cpu(i).toLong else -1L
    val load = read("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    Sample(field(8), field(5), load)
  }

  def delta(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else b - a

  def gcMs(): Long = {
    var s = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      if (b.getCollectionTime > 0) s += b.getCollectionTime
    }
    s
  }

  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    catch { case _: Throwable => "" }
}

/** JSON-lines writer: one object per record, keys in the order given;
  * values may be numbers, booleans, strings, sequences or maps. */
final class Out(f: File) {
  private val w = new PrintWriter(f, "UTF-8")
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): Unit = {
    w.println(json.writeValueAsString(ListMap(kv: _*)))
    w.flush()
  }

  def close(): Unit = w.close()
}
