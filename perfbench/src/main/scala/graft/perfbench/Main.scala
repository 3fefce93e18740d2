package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import graft.SparkEntry

/** Closed-loop benchmark harness: one client, one op at a time.
  *
  * Arguments are `key=value` pairs (run.py passes them): `ops` (comma
  * list), `seed`, `passes`, `trace` (0|1), `probes` (0|1), `data` (the
  * table directory, only read) and `out`.
  *
  * Steps: set-up (session start, one warmup pass that writes each op's
  * result for run.py's DuckDB comparison), host probes, `passes` timed
  * passes, host probes again. With `trace=1` the
  * timed passes alternate untraced and traced, and the traced ones feed
  * [[Tracer]]. Everything measured lands in `<out>/result.json`.
  */
object Main {

  final case class Sample(pass: Int, op: String, traced: Boolean, buildMs: Double,
                          execMs: Double, rows: Long, error: String)

  def main(args: Array[String]): Unit = run(args.map { kv =>
    val i = kv.indexOf('=')
    kv.take(i) -> kv.drop(i + 1)
  }.toMap)

  def run(conf: Map[String, String]): Unit = {
    val ops = conf("ops").split(",").filter(_.nonEmpty).toIndexedSeq
    val seed = conf("seed").toLong
    val traced = conf("trace") == "1"
    val withProbes = conf.getOrElse("probes", "1") == "1"
    val dataDir = conf("data")
    val outDir = conf("out")
    Files.createDirectories(Paths.get(outDir))
    val jvmToMainMs = Clock.nowMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up: session start, then the warmup pass ----
    val t0 = Clock.nowMs
    val s = graft.core.Sessions.get()
    val sessionMs = Clock.nowMs - t0
    val queries = SparkEntry.queries
    val missing = ops.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown ops: ${missing.mkString(",")}")

    // Warmup: every op once, in a seeded order. Each op's result is
    // written as parquet for run.py's DuckDB comparison, so the check
    // needs no execution of its own and stays outside the timed passes.
    val checkDir = s"$outDir/check"
    val checkErrors = ArrayBuffer[(String, String)]()
    val tw0 = Clock.nowMs
    val warmupOps = new Random(seed).shuffle(ops.distinct).map { op =>
      val t = Clock.nowMs
      try queries(op)(s, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/$op")
      catch { case e: Throwable => checkErrors += (op -> brief(e)) }
      op -> (Clock.nowMs - t)
    }
    val warmupMs = Clock.nowMs - tw0

    val probesBefore = if (withProbes) probes(s) else (Double.NaN, Double.NaN)
    resetPeakRss()

    // ---- timed passes ----
    val tracer = if (traced) Some(new Tracer(s)) else None
    val samples = ArrayBuffer[Sample]()
    val passes = ArrayBuffer[(Int, Boolean, Double)]()
    var pass = 0
    var traceId = 0
    // A fixed number of whole passes, so every run measures the same work
    // (a traced run needs an untraced and a traced one).
    val passCount = if (traced) math.max(2, conf("passes").toInt) else conf("passes").toInt
    while (pass < passCount) {
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) tracer.foreach(_.install())
      val order = new Random(seed * 1000003L + pass).shuffle(ops)
      val p0 = Clock.nowMs
      order.foreach { op =>
        if (tracedPass) tracer.foreach(_.beginOp(traceId, op))
        val t0 = Clock.nowMs
        var t1 = Double.NaN
        var rows = -1L
        var qe: Option[QueryExecution] = None
        val err = try {
          val df = queries(op)(s, dataDir)
          t1 = Clock.nowMs
          qe = Some(df.queryExecution)
          rows = df.queryExecution.toRdd.count()
          ""
        } catch { case e: Throwable => brief(e) }
        val t2 = Clock.nowMs
        if (t1.isNaN) t1 = t2
        samples += Sample(pass, op, tracedPass, t1 - t0, t2 - t1, rows, err)
        if (tracedPass) {
          tracer.foreach(_.closeOp(t0, t1, t2, qe, math.max(rows, 0L)))
          traceId += 1
        }
      }
      val passMs = Clock.nowMs - p0
      if (tracedPass) tracer.foreach(_.uninstall())
      passes += ((pass, tracedPass, passMs))
      pass += 1
    }
    val peakRssMb = peakRss()

    val probesAfter = if (withProbes) probes(s) else (Double.NaN, Double.NaN)

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }

    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val graftEntries = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-"))
    val storeBytes = graftEntries.map(f => bytesUnder(f)).sum

    // ---- result.json ----
    val j = new Json
    j.obj {
      j.num("jvm_to_main_ms", jvmToMainMs)
      j.num("session_ms", sessionMs)
      j.num("warmup_ms", warmupMs)
      j.key("warmup_ops"); j.obj { warmupOps.foreach { case (k, v) => j.num(k, v) } }
      j.num("peak_rss_mb", peakRssMb)
      j.num("store_bytes", storeBytes.toDouble)
      j.num("residue_dirs", graftEntries.length.toDouble)
      j.num("storage_memory_mb",
        s.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0)
      j.key("probes"); j.obj {
        j.num("cpu_before_s", probesBefore._1); j.num("io_before_s", probesBefore._2)
        j.num("cpu_after_s", probesAfter._1); j.num("io_after_s", probesAfter._2)
      }
      j.key("passes"); j.list(passes.toSeq) { case (p, t, ms) =>
        j.obj { j.num("pass", p); j.bool("traced", t); j.num("ms", ms) }
      }
      j.key("samples"); j.list(samples.toSeq) { x =>
        j.obj {
          j.num("pass", x.pass); j.str("op", x.op); j.bool("traced", x.traced)
          j.num("build_ms", x.buildMs); j.num("exec_ms", x.execMs)
          j.num("rows", x.rows.toDouble); j.str("error", x.error)
        }
      }
      j.key("check_errors"); j.obj { checkErrors.foreach { case (k, v) => j.str(k, v) } }
      j.key("oracle"); j.obj { oracle.toSeq.sortBy(_._1).foreach { case (k, v) => j.str(k, v) } }
      tracer.foreach { t =>
        val tracedPasses = passes.count(_._2)
        j.key("layers"); j.obj {
          t.layerMetrics(tracedPasses).toSeq.sortBy(_._1).foreach { case (k, v) => j.num(k, v) }
        }
        j.key("writers"); j.obj { t.writers.toSeq.sortBy(_._1).foreach { case (k, v) => j.bool(k, v) } }
        j.num("n_spans", t.spansOut.size.toDouble)
      }
    }
    Files.writeString(Paths.get(s"$outDir/result.json"), j.toString)
    tracer.foreach(t => writeSpans(t.spansOut, s"$outDir/spans.jsonl"))
    s.stop()
  }

  /** The engine's public host-noise probes (CPU+shuffle, then IO). */
  def probes(s: SparkSession): (Double, Double) =
    (graft.Bench.calibrationProbe(s), graft.Bench.calibrationProbeIo(s))

  private def brief(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")
      .linesIterator.nextOption().getOrElse("")).take(300)

  /** Linux: writing 5 to clear_refs resets VmHWM, so the peak read after
    * the timed passes is the peak of those passes. */
  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case scala.util.control.NonFatal(_) => () }

  private def peakRss(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { sp =>
      val j = new Json
      j.obj {
        j.num("trace", sp.trace); j.num("id", sp.id); j.num("parent", sp.parent)
        j.str("name", sp.name); j.num("start_ms", sp.start); j.num("end_ms", sp.end)
        j.str("attr", sp.attr)
      }
      sb.append(j.toString).append('\n')
    }
    Files.writeString(Paths.get(path), sb.toString)
  }
}

/** Minimal JSON writer (the harness has no JSON library of its own). */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  def key(k: String): Unit = { sep(); sb.append(Json.q(k)).append(':'); first = true }
  def obj(body: => Unit): Unit = {
    if (!first) sb.append(','); sb.append('{'); first = true; body; sb.append('}'); first = false
  }
  def list[T](xs: Seq[T])(f: T => Unit): Unit = {
    sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false
  }
  def num(k: String, v: Double): Unit = {
    key(k); sb.append(if (v.isNaN || v.isInfinite) "null" else v.toString); first = false
  }
  def bool(k: String, v: Boolean): Unit = { key(k); sb.append(v); first = false }
  def str(k: String, v: String): Unit = { key(k); sb.append(Json.q(v)); first = false }
  override def toString: String = sb.toString
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
