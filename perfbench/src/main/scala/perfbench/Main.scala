package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.engine.GraftSession

/** Entry point of one benchmark run: one workload, one seed.
  *
  * {{{
  * Main --workload cdc_seed|cdc_control|query_mix --seed N --seconds S
  *      --trace 0|1 --data DIR --expected FILE --work DIR --spans DIR
  *      --out FILE
  * }}}
  *
  * Untraced runs repeat the workload's pass until `--seconds` have
  * passed (at least one pass) and report the end-to-end metrics.
  * Traced runs make the same warm-up, then an untraced pass, a traced
  * pass and another untraced pass, and report the per-layer metrics of
  * the traced pass. Every pass is checked; the result object is written
  * to `--out`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: Path, work: Path, spans: Path, out: Path)

  /** Small tables in cdc_control; each is submitted twice. */
  val ControlTables = 4
  /** Top-level spans must cover the traced pass's wall within this share. */
  val CoverageTolerance = 0.10

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

  final case class Checked(pass: Pass, failed: Long, problems: Seq[String])

  final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
      metrics: Seq[(String, Double, String)])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    // the first session build in the JVM is the one a user waits for:
    // it starts the SparkContext and loads the engine's classes
    val (spark, setup) = timed(GraftSession.get())
    note(f"setup $setup%.3f")
    Files.createDirectories(o.work)
    val out = o.workload match {
      case "cdc_seed" | "cdc_control" => cdcRun(spark, o)
      case "query_mix" => queryRun(spark, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val metrics =
      if (o.trace) out.metrics
      else (("setup_s", setup, "s") +: out.metrics) :+ (("heap_live_mb", liveHeapMb(), "MB"))
    out.problems.foreach(p => System.err.println(s"[perfbench] problem: $p"))
    val json = Json.obj(Seq(
      "correct" -> (out.failed == 0 && out.problems.isEmpty),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .toMap))
    Files.write(o.out, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    note("done")
  }

  // ---------------------------------------------------------------- CDC

  private def cdcRun(spark: SparkSession, o: Opts): Outcome = {
    val cdc = new Cdc(spark, o.data, o.work)
    val plan =
      if (o.workload == "cdc_seed") Cdc.seedPlan(o.seed) else Cdc.controlPlan(o.seed, ControlTables)
    val captures = plan.flatten
    captures.foreach(c => cdc.rowsOf(c.source))

    def pass(traced: Boolean): (Pass, CdcSystem, String) = {
      val root = cdc.freshRoot(o.workload)
      val view = cdc.seedView(captures)
      val sys = if (traced) CdcSystem.traced(spark, root, view) else CdcSystem.plain(spark, root, view)
      val p = cdc.lifecycles(sys, plan)
      note(f"pass traced=$traced wall ${p.wall}%.3f")
      (p, sys, root)
    }
    /** Output checks over a finished pass; a CCD whose table fails a
      * check counts as failed, and a root-wide problem fails them all. */
    def verify(p: Pass, sys: CdcSystem, root: String): Checked = {
      val resumed = CdcSystem.plain(spark, root, cdc.seedView(captures)).start().size
      val found = cdc.check(sys, captures, resumed)
      note("checked")
      val badTables = found.flatMap(_._1).toSet
      val failed =
        if (found.exists(_._1.isEmpty)) p.attempted
        else math.max(p.failed, captures.count(c => badTables.contains(c.table)).toLong)
      Checked(p, failed, p.problems ++ found.map(_._2))
    }
    def checkedPass(): Checked = {
      val (p, sys, root) = pass(traced = false)
      verify(p, sys, root)
    }

    // untimed warm-up: one small-table lifecycle
    val warmPlan = Seq(Seq(Capture("warm.t_000", Cdc.Small(0))))
    val warm = cdc.lifecycles(
      CdcSystem.plain(spark, cdc.freshRoot("warmup"), cdc.seedView(warmPlan.flatten)), warmPlan)
    note("warm-up done")

    if (!o.trace) {
      val runs = repeatFor(o.seconds)(checkedPass())
      Outcome(warm.attempted + runs.map(_.pass.attempted).sum, warm.failed + runs.map(_.failed).sum,
        warm.problems ++ runs.flatMap(_.problems), throughput(runs.map(_.pass)))
    } else {
      // untraced passes on both sides of the traced one, so that
      // trace.overhead compares passes in the same warm state
      val before = checkedPass()
      val rec = new Recorder(s"${o.workload}-${o.seed}", spark)
      val codegen0 = CodeGenerator.compileTime
      rec.attach()
      Trace.current = Some(rec)
      val (tp, tsys, troot, sql, codegen, split) =
        try {
          val (tp, tsys, troot) = pass(traced = true)
          val codegen = (CodeGenerator.compileTime - codegen0) / 1e9
          rec.drain()
          val sql = rec.sqlTotals
          tsys.start() // timed restart; verify() re-checks it untraced
          val split = cdc.seedSplit(captures.map(_.source))
          (tp, tsys, troot, sql, codegen, split)
        } finally {
          Trace.current = None
          rec.detach()
        }
      val tracedCheck = verify(tp, tsys, troot)
      val after = checkedPass()
      rec.writeTo(o.spans.resolve(s"${rec.run}-${ProcessHandle.current.pid}.jsonl"))
      val published = tsys match {
        case t: TracedSystem => t.initializer.statesPublished
        case _ => 0L
      }
      val layers = Layers.cdc(rec, sql, tp, troot, captures, cdc, published, split, codegen,
        cores(spark), traceExtras(tp.wall, Seq(before.pass.wall, after.pass.wall)))
      val checks = Seq(before, tracedCheck, after)
      Outcome(warm.attempted + checks.map(_.pass.attempted).sum,
        warm.failed + checks.map(_.failed).sum,
        warm.problems ++ checks.flatMap(_.problems) ++ coverageProblem(layers), layers)
    }
  }

  /** Throughput over all measured passes. Percentiles are not reported:
    * a pass has at most ten operations, too few for any percentile to
    * have ten samples beyond it. */
  private def throughput(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("ops_per_s", passes.map(_.completed).sum / passes.map(_.wall).sum, "1/s"))

  // ---------------------------------------------------------- query_mix

  private def queryRun(spark: SparkSession, o: Opts): Outcome = {
    val mix = new QueryMix(spark, o.data)
    val order = QueryMix.order(o.seed)
    val expected = QueryMix.readExpected(o.expected)

    def verify(times: Seq[QueryTime]): (Long, Seq[String]) = {
      val bad = times.flatMap { t =>
        (t.error, t.digest) match {
          case (Some(e), _) => Some(s"${t.name}: $e")
          case (None, Some(d)) if !expected.get(t.name).contains(d) =>
            Some(s"${t.name}: got ${d.line(t.name)} expected ${expected.get(t.name).map(_.line(t.name))}")
          case _ => None
        }
      }
      (bad.size.toLong, bad)
    }
    def asPass(times: Seq[QueryTime]): Pass =
      Pass(times.map(_.total).sum, times.count(_.error.isEmpty).toLong, times.size.toLong, 0L, Nil)

    // untimed warm-up: a query outside the slice
    val warm = QueryMix.Warmup.map(mix.run(_, None))
    val warmErrors = warm.flatMap(t => t.error.map(e => s"${t.name}: $e"))
    note("warm-up done")

    if (!o.trace) {
      val runs = repeatFor(o.seconds)(mix.pass(order, None))
      val checks = runs.map(verify)
      Outcome(warm.size + runs.map(_.size.toLong).sum, warmErrors.size + checks.map(_._1).sum,
        warmErrors ++ checks.flatMap(_._2), throughput(runs.map(asPass)))
    } else {
      // the first pass compiles every query's code; the untraced passes
      // on both sides of the traced one then run in the same warm state
      val settle = mix.pass(order, None)
      val (before, beforeWall) = timed(mix.pass(order, None))
      val rec = new Recorder(s"${o.workload}-${o.seed}", spark)
      val codegen0 = CodeGenerator.compileTime
      rec.attach()
      Trace.current = Some(rec)
      val (traced, wall) = try timed(mix.pass(order, Some(rec))) finally {
        Trace.current = None
        rec.detach()
      }
      val codegen = (CodeGenerator.compileTime - codegen0) / 1e9
      val (after, afterWall) = timed(mix.pass(order, None))
      rec.writeTo(o.spans.resolve(s"${rec.run}-${ProcessHandle.current.pid}.jsonl"))
      val passes = Seq(settle, before, traced, after)
      val checks = passes.map(verify)
      val layers = Layers.queries(rec, rec.sqlTotals, wall, codegen, cores(spark),
        traceExtras(wall, Seq(beforeWall, afterWall)))
      Outcome(warm.size + passes.map(_.size.toLong).sum, warmErrors.size + checks.map(_._1).sum,
        warmErrors ++ checks.flatMap(_._2) ++ coverageProblem(layers), layers)
    }
  }

  // -------------------------------------------------------------- utils

  /** Traced wall over the mean of the untraced walls, and the JVM's
    * peak RSS. */
  private def traceExtras(traced: Double, untraced: Seq[Double]): Map[String, Double] =
    Map("trace.overhead" -> traced / (untraced.sum / untraced.size), "jvm.peak_rss_mb" -> peakRssMb())

  private def coverageProblem(layers: Seq[(String, Double, String)]): Seq[String] =
    layers.collect {
      case ("trace.coverage", c, _) if math.abs(1 - c) > CoverageTolerance =>
        f"top-level spans cover $c%.3f of the pass wall"
    }

  /** Run `body` once, then again while less than `seconds` have passed. */
  def repeatFor[T](seconds: Double)(body: => T): List[T] = {
    val t0 = System.nanoTime()
    val out = List.newBuilder[T]
    out += body
    while ((System.nanoTime() - t0) / 1e9 < seconds) out += body
    out.result()
  }

  /** The value of `body` and the seconds it took. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Heap still in use after a full collection: what the run retains.
    * Spark frees broadcast and shuffle blocks from its cleaner thread
    * once a collection has found their handles unreachable, so collect,
    * let the cleaner run, and collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** High-water resident set of this JVM (Linux `VmHWM`). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), Paths.get(need("expected")), Paths.get(need("work")), Paths.get(need("spans")), Paths.get(need("out")))
  }
}
