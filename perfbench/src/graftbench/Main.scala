package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, the inputs and the recorders. */
final class Ctx(val spark: SparkSession, val data: Path, val work: Path,
    val seed: Long, val tracer: Tracer) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One unit's latency and the user rows it covered. */
final case class UnitSample(ms: Double, rows: Long)

/** Times the calls of a run and counts the ones that fail.
  *
  * A call is timed only around the call itself; its output is checked
  * afterwards, untimed. A call that throws or whose output is wrong counts
  * as failed and leaves no sample, so a broken operation can never read as
  * a fast one. A unit is the operation a user of the workload waits for
  * (one table migrated, one question answered, one change made fresh); its
  * latency is the sum of its calls, and it is kept only if all of them
  * succeeded. */
final class Recorder(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val byClass = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val units = ArrayBuffer.empty[UnitSample]
  private var unitNs = 0L
  private var unitOk = true

  /** Check outputs of calls already timed; a failure counts against the
    * current unit like a failed call. */
  def check(what: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => fail(what, e) }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    unitOk = false
    System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  /** Run one unit; `body` returns the user rows the unit covered. */
  def unit(body: => Long): Unit = {
    unitNs = 0L
    unitOk = true
    tracer.nextOp()
    val rows = try body catch { case NonFatal(e) => attempted += 1; fail("unit", e); 0L }
    if (unitOk) units += UnitSample(unitNs / 1e6, rows)
  }

  /** Time `call` (traced as a span named `cls` unless the call opens its
    * own), then run `check` on its result. */
  def op[A](cls: String, span: Boolean = true)(call: => A)(check: A => Unit): Option[A] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val a = if (span) tracer.span(cls)(call) else call
      val ns = System.nanoTime() - t0
      check(a)
      byClass.getOrElseUpdate(cls, ArrayBuffer.empty) += ns / 1e6
      unitNs += ns
      Some(a)
    } catch { case NonFatal(e) => fail(cls, e); None }
  }
}

object Check {
  def eq[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new IllegalStateException(what)
}

/** A workload: a system state built by `setup`, then a closed loop of
  * rounds run by one client that waits for every call. A round holds
  * whole units in fixed proportions, and the window only ever ends the
  * loop between rounds, so the mix of units timed does not depend on how
  * many rounds fit. */
trait Workload {
  type State
  /** Build the system state under `dir`; the time this takes is setup. */
  def setup(dir: Path): State
  /** One round of units; `r` numbers the round from 0. */
  def round(st: State, r: Int, rec: Recorder): Unit
  /** Checks of the final state, after the last round. */
  def finish(st: State, rec: Recorder): Unit = ()
  /** Bytes on disk of the warehouse the workload writes ÷ bytes of the
    * user data it holds, in the input files' own Parquet encoding, at a
    * point that does not depend on how many rounds the window fits. */
  def space(st: State): Double
  /** Input sizes: rows, bytes, snapshots, files. */
  def sizes(st: State): Map[String, Double]
  /** Per-layer metrics of the traced rounds. */
  def layers(st: State, rec: Recorder, t: Tracer, l: OpListener): Map[String, Double]
  /** Workload-level breakdown of unit latencies, for the report. */
  def breakdown(rec: Recorder): Map[String, Double]
}

object Main {
  /** Percentile of `op_tail_ms`: fixed, so runs of different speed report
    * the same one; the report gives the sample count it rests on. */
  val TailPct = 90.0

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.catalog.spark.GraftSparkExtensions")
      .config("spark.sql.catalog.snapcat", "graft.catalog.spark.SnapCatalogPlugin")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def jsonMap(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").getOrElse(sys.error("--seed is required")).toLong
    val seconds = arg(args, "--seconds").getOrElse(sys.error("--seconds is required")).toDouble
    val trace = arg(args, "--trace").getOrElse("0") == "1"
    val data = Paths.get(arg(args, "--data").getOrElse(sys.error("--data is required")))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val traceOut = arg(args, "--trace-out").map(Paths.get(_))
    require(Files.isDirectory(data), s"input directory $data does not exist")
    Files.createDirectories(work)

    val t00 = System.nanoTime()
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] $p at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    val spark = session(work)
    phase("session started")
    val tracer = new Tracer(spark.sparkContext)
    val listener = new OpListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, data, work, seed, tracer)
    val wl: Workload = workload match {
      case "migrate" => new Migrate(ctx)
      case "maintain" => new Maintain(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    phase("inputs generated")

    // one set-up per run, cold, as a user's is: a second one would not fit
    // the benchmark's time budget (see README.md)
    tracer.on = trace
    val t0 = System.nanoTime()
    val st = wl.setup(work.resolve("setup"))
    val setupS = (System.nanoTime() - t0) / 1e9
    phase("setup done")
    val heapAfterSetup = LiveHeap.mb()

    val rec = new Recorder(tracer)
    if (trace) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      listener.counts.clear()
      listener.handlerNs.set(0)
      tracer.overheadNs = 0
    }
    // whole rounds, at least one, until the window closes
    val t1 = System.nanoTime()
    val deadline = t1 + (seconds * 1e9).toLong
    var r = 0
    do { wl.round(st, r, rec); r += 1 } while (System.nanoTime() < deadline)
    val roundsNs = System.nanoTime() - t1
    tracer.on = false
    phase(s"$r rounds done")
    val heapMb = math.max(heapAfterSetup, LiveHeap.mb())
    wl.finish(st, rec)
    val amplification = wl.space(st)
    if (trace) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

    val attempted = rec.attempted
    val failed = rec.failed
    val unitMs = rec.units.map(_.ms).toSeq
    val (p50, _, _, n) = Stats.summary(unitMs)
    val tail = if (unitMs.isEmpty) 0.0 else Stats.pct(unitMs, TailPct)
    val opS = rec.units.map(_.ms).sum / 1e3
    val rowsPerS = if (opS > 0) rec.units.map(_.rows).sum / opS else 0.0
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (p50, "ms"),
      "op_tail_ms" -> (tail, "ms"),
      "rows_per_s" -> (rowsPerS, "rows/s"),
      "space.amplification" -> (amplification, "ratio"),
      "mem.peak_heap_mb" -> (heapMb, "MiB"))

    val classes = rec.byClass.map { case (c, xs) =>
      val (m, t, p, k) = Stats.summary(xs.toSeq)
      s""""$c": {"p50_ms": ${num(m)}, "tail_ms": ${num(t)}, "tail_pct": ${num(p)}, "n": $k}"""
    }.mkString("{", ", ", "}")
    val detail =
      s"""{"workload": "$workload", "seed": $seed, "rounds": $r, "op_samples": $n, """ +
        s""""unit_tail_pct": ${num(TailPct)}, """ +
        s""""ops_failed_ratio": ${num(failed.toDouble / math.max(attempted, 1))}, """ +
        s""""sizes": ${jsonMap(wl.sizes(st))}, "breakdown": ${jsonMap(wl.breakdown(rec))}, """ +
        s""""classes": $classes}"""
    println(s"""{"detail": $detail}""")

    val metrics: Seq[(String, (Double, String))] =
      if (!trace) e2e
      else {
        // the work tracing added (span bookkeeping, the outside-in probes,
        // the listener) against the work the same rounds do untraced
        val traceNs = tracer.overheadNs + listener.handlerNs.get
        val overhead = traceNs.toDouble / math.max(roundsNs - tracer.overheadNs, 1L)
        val layers = wl.layers(st, rec, tracer, listener) + ("trace.overhead_ratio" -> overhead)
        traceOut.foreach { p =>
          Files.createDirectories(p.getParent)
          val self = tracer.selfByName.toSeq.sortBy(_._1).map { case (k, (ns, c)) =>
            s""""$k": {"self_ms": ${num(ns / 1e6)}, "calls": $c}""" }.mkString("{", ", ", "}")
          Files.writeString(p,
            s"""{"detail": $detail,\n"layers": ${jsonMap(layers.toSeq.sortBy(_._1))},\n""" +
              s""""self": $self,\n"spans": ${tracer.toJson}}\n""")
        }
        layers.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, Layers.unitOf(k)) }
      }
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}""")
  }
}
