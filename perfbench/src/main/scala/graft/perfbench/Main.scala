package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload against the engine and writes its
  * raw samples, check failures and (traced) layer counters as JSON.
  * Statistics are computed by the Python front end (perfbench/run.py).
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <out.json>
  * [schedule.tsv]
  */
object Main {

  final case class Req(dueMs: Double, kind: String, arg: Long)

  /** Everything one run reports back to the front end. */
  final class Result {
    val info = mutable.LinkedHashMap.empty[String, Any]
    var jvmStartMs = 0L
    var sessionS = 0.0
    var setupS = 0.0
    // one row per timed operation: kind, due/start/end ms from window start, ok
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    // analytics query -> DuckDB twin SQL, for the results dumped under
    // <workDir>/twins/<query>
    val twins = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var checks = 0L
    val windowS = mutable.LinkedHashMap.empty[String, Double]
    val cpuMs = mutable.LinkedHashMap.empty[String, Double]
    var rssPeakMb = 0.0

    def fail(msg: String): Unit = synchronized { failures += msg }
    def check(ok: Boolean, msg: => String): Boolean = {
      synchronized { checks += 1 }
      if (!ok) fail(msg)
      ok
    }
    def op(row: Map[String, Any]): Unit = synchronized { ops += row }
    /** Set-up ends here: the first timed operation starts next. */
    def setupDone(): Unit = setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
  }

  def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, dataDir, workDir, secondsArg, traceArg, outPath) = args.take(6)
    val schedule = args.lift(6).map(readSchedule).getOrElse(Array.empty[Req])
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.local.dir", Paths.get(workDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    res.jvmStartMs = jvmStart
    res.sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    res.info ++= Seq("workload" -> workload, "cores" -> cpus,
      "clients" -> cpus, "window_s" -> seconds, "traced" -> traced)
    val w = new Workloads(spark, dataDir, workDir, res, traced, seconds, cpus)
    try workload match {
      case "build" => w.build()
      case "serve" => w.serve(schedule)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        res.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    res.rssPeakMb = peakRssMb()
    res.info("code_cache_peak_mb") = codeCachePeakMb()
    Files.writeString(Paths.get(outPath), Json.render(toMap(res)))
    spark.stop()
  }

  def toMap(r: Result): Map[String, Any] = Map(
    "info" -> r.info.toMap,
    "session_s" -> r.sessionS,
    "setup_s" -> r.setupS,
    "window_s" -> r.windowS.toMap,
    "cpu_ms" -> r.cpuMs.toMap,
    "ops" -> r.ops.toSeq,
    "layers" -> r.layers.toMap,
    "twins" -> r.twins.toMap,
    "checks" -> r.checks,
    "failures" -> r.failures.toSeq,
    "rss_peak_mb" -> r.rssPeakMb)

  def readSchedule(path: String): Array[Req] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { ln =>
      val Array(due, kind, arg) = ln.split('\t')
      Req(due.toDouble, kind, arg.toLong)
    }.toArray

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Peak use of the JIT code cache (all its heaps), in MB: a full cache
    * makes requests fail, so each run reports how close it came. */
  def codeCachePeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** CPU time of this process (all threads), in ms. */
  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
