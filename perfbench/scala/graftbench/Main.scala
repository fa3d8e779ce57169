package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** A wrong result. The run fails; nothing is timed or printed as a result. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit = if (!cond) throw new CheckFailed(what)
}

/** Per-run context handed to the workloads. */
final class Ctx(val spark: SparkSession, val spans: Spans, val workDir: File,
                val fault: String, val tiny: Boolean) {
  var attempted = 0L
  var failed = 0L
  private var dirs = 0

  def freshDir(prefix: String): String = {
    dirs += 1
    new File(workDir, s"$prefix-$dirs").getAbsolutePath
  }

  /** One call into the engine: counted, and timed as a span. */
  def op[T](name: String)(body: => T): T = timed(name)(body)._1

  def timed[T](name: String)(body: => T): (T, Span) = {
    attempted += 1
    try spans.timed(name)(body)
    catch { case t: Throwable => failed += 1; throw t }
  }

  /** Untimed correctness work; a failure counts against the run. */
  def check[T](name: String)(body: => T): T = op(s"check.$name")(body)

  def injectException(where: String): Unit =
    if (fault == "exception") throw new IllegalStateException(s"injected fault in $where")
  def corruptResult: Boolean = fault == "result"
}

/** A named workload: seeded inputs, an untimed warm-up, a timed pass, an
  * untimed correctness gate, and the metrics read off the passes.
  */
abstract class Workload[I, O] {
  def name: String
  def setup(ctx: Ctx, seed: Long): I
  def warmup(ctx: Ctx, seed: Long): Unit
  def pass(ctx: Ctx, in: I): O
  def passWallS(o: O): Double
  /** Throws [[CheckFailed]] on a wrong result; returns a digest of the
    * result that must be identical across passes of one seed.
    */
  def check(ctx: Ctx, in: I, out: O): String
  /** End-to-end metrics of the timed passes, except setup_s and peak_rss_mb. */
  def endToEnd(outs: Seq[O]): Map[String, Double]
  /** The workload-specific figures reported beside the result. */
  def details(outs: Seq[O]): Map[String, Any]
  def layers(ctx: Ctx, in: I, traced: Seq[O], listener: LayerListener): Map[String, Double]
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scale: String, fault: String, work: File, out: File, spansOut: File)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", m.getOrElse("--scale", "full"), m.getOrElse("--fault", "none"),
      new File(need("--work")), new File(need("--out")), new File(need("--spans")))
  }

  def workload(name: String): Workload[_, _] = name match {
    case "bulk-crawl" => new CrawlWorkload(name, incremental = false)
    case "incremental-crawl" => new CrawlWorkload(name, incremental = true)
    case "neardup" => new NearDupWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args)); 0 }
    catch {
      case t: Throwable =>
        System.err.println(s"graftbench: run failed: $t")
        t.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** High-water resident set of this process (Linux /proc), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def run(o: Opts): Unit = {
    val wl = workload(o.workload).asInstanceOf[Workload[Any, Any]]
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}"
    val spans = new Spans(spark.sparkContext, runId)
    val ctx = new Ctx(spark, spans, o.work, o.fault, o.scale == "tiny")
    try {
      // set-up: one untimed warm-up pass of the workload's code on small
      // inputs, then the seeded inputs, generated several times so the
      // input share of setup_s is a median
      val warmS = spans.timed("warmup") { wl.warmup(ctx, o.seed) }._2.wallS
      var in: Any = null
      val inputS = (1 to (if (ctx.tiny) 1 else 3)).map { _ =>
        spans.timed("setup") { in = wl.setup(ctx, o.seed) }._2.wallS
      }
      val setupS = sessionS + warmS + Stats.median(inputS)

      val digests = mutable.ArrayBuffer.empty[String]
      def timedPasses(): Seq[Any] = {
        val outs = mutable.ArrayBuffer.empty[Any]
        var measured = 0.0
        while (outs.isEmpty || measured < o.seconds) {
          val out = wl.pass(ctx, in)
          measured += wl.passWallS(out)
          digests += wl.check(ctx, in, out)
          Check(digests.distinct.size == 1,
            s"result digests differ across passes of seed ${o.seed}: ${digests.mkString(",")}")
          outs += out
        }
        outs.toSeq
      }

      val result: Map[String, (Double, String)] =
        if (!o.trace) {
          val outs = timedPasses()
          val e2e = wl.endToEnd(outs) ++ Map(
            "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb())
          writeDetail(o, wl.details(outs) ++ Map("passes" -> outs.size, "result_digest" -> digests.head,
            "session_s" -> sessionS, "input_s" -> inputS, "warmup_s" -> warmS))
          Metrics.endToEnd.map { case (n, u) =>
            n -> (e2e.getOrElse(n, throw new IllegalStateException(s"${wl.name} lacks $n")), u)
          }.toMap
        } else {
          // one untraced pass is the baseline for the tracing overhead
          val base = wl.pass(ctx, in)
          digests += wl.check(ctx, in, base)
          val listener = new LayerListener
          spark.sparkContext.addSparkListener(listener)
          spans.tagJobs = true
          val traceRoot = spans("traced") {
            val traced = timedPasses()
            val layers = wl.layers(ctx, in, traced, listener)
            (traced, layers)
          }
          val (traced, layerMetrics) = traceRoot
          org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
          val tracedRoot = spans.all.filter(_.name == "traced").last
          val passSpans = spans.descendants(tracedRoot).filter(_.name == "pass")
          val passGroups = passSpans.flatMap(p => (p +: spans.descendants(p)).map(spans.group)).toSet
          val sparkWork = listener.work(passGroups)
          val known = spans.all.map(spans.group).toSet
          val unattributed = listener.unattributed(known)
          unattributed.foreach(j => System.err.println(s"graftbench: unattributed job ${j.id} (${j.site})"))
          val overhead = Stats.median(traced.map(wl.passWallS)) - wl.passWallS(base)
          val all = wl.details(Seq(base)).collect { case (k, v: Double) => k -> v } ++ layerMetrics ++ Map(
            "spark.jobs" -> sparkWork.jobs.toDouble / passSpans.size,
            "spark.gc_s" -> sparkWork.gcS / passSpans.size,
            "spark.spill_bytes" -> sparkWork.spillBytes.toDouble / passSpans.size,
            "spark.unattributed_jobs" -> unattributed.size.toDouble,
            "trace.overhead_s" -> overhead,
            "error_rate" -> ctx.failed.toDouble / ctx.attempted)
          writeDetail(o, wl.details(traced) ++ Map("passes" -> traced.size, "result_digest" -> digests.head))
          Metrics.perLayer.map { case (n, u) => n -> (all.getOrElse(n, 0.0), u) }.toMap
        }

      Files.write(o.spansOut.toPath, spans.toJson.getBytes(StandardCharsets.UTF_8))

      val metrics = result.map { case (k, (v, u)) => k -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }
      val ordered = scala.collection.immutable.ListMap(metrics.toSeq.sortBy(_._1): _*)
      val line = Json.obj("correct" -> true, "attempted" -> ctx.attempted,
        "failed" -> ctx.failed, "metrics" -> ordered)
      Files.write(o.out.toPath, (line + "\n").getBytes(StandardCharsets.UTF_8))
    } catch {
      case t: Throwable =>
        System.err.println(s"graftbench: ${ctx.failed} of ${ctx.attempted} operations failed; no result")
        throw t
    } finally spark.stop()
  }

  private def writeDetail(o: Opts, detail: Map[String, Any]): Unit = {
    val f = new File(o.out.getPath + ".detail")
    Files.write(f.toPath, Json.value(scala.collection.immutable.ListMap(detail.toSeq.sortBy(_._1): _*))
      .getBytes(StandardCharsets.UTF_8))
  }
}
