package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark runner process. `perfbench/run.py` generates the inputs, starts
  * this main, and checks the outputs it leaves behind:
  *
  *   graftbench.Main <workload> <workDir> <seconds> <trace 0|1> <cores>
  *
  * The work directory holds `manifest.json` (written by the generator) and
  * receives `result.json`: raw per-pass samples for the end-to-end metrics,
  * and with trace 1 the per-layer metrics. The library is called only
  * through its public entry points; every layer time is measured around
  * such a call or read from listeners registered here.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, seconds, trace, cores) = args
    val ctx = new Ctx(Paths.get(workDir), seconds.toDouble, trace == "1", cores.toInt)
    val run: Ctx => Unit = workload match {
      case "pipeline_backfill" => Backfill.run
      case "stream_events" => StreamEvents.run
      case "corpus_dedup" => Corpus.run
      case "broker_roundtrip" => Broker.run
      case other => sys.error(s"unknown workload $other")
    }
    try run(ctx)
    finally ctx.stopSpark()
    ctx.result("peak_rss_mb") = Sys.vmHwmMb()
    ctx.writeResult()
  }
}

/** Per-run state shared by the workloads: the Spark session, the timed
  * samples, the per-layer values and the manifest of generated inputs. */
final class Ctx(val work: Path, val seconds: Double, val trace: Boolean, val cores: Int) {
  val manifest: Map[String, Any] = Json.read(work.resolve("manifest.json"))
  val result = mutable.LinkedHashMap[String, Any]()
  val layer = mutable.LinkedHashMap[String, Double]()
  private var spark0: SparkSession = _

  def path(rel: String): String = work.resolve(rel).toString
  def m(key: String): String = String.valueOf(manifest(key))
  def mLong(key: String): Long = manifest(key).toString.toDouble.toLong

  def spark: SparkSession = {
    if (spark0 == null) spark0 = Ctx.session(cores, work)
    spark0
  }

  /** Stop the session and start a fresh one with another core count (used
    * for the single-core baseline of the traced run). */
  def restartSpark(newCores: Int): Unit = {
    stopSpark()
    spark0 = Ctx.session(newCores, work)
  }

  def stopSpark(): Unit = if (spark0 != null) { spark0.stop(); spark0 = null }

  /** Seconds from JVM launch until now. */
  def sinceLaunchS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def writeResult(): Unit = {
    result("layer") = layer.toMap
    Files.write(work.resolve("result.json"), Json.write(result.toMap).getBytes(UTF_8))
  }
}

object Ctx {
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000L)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Closed-loop timing: run `pass` until `seconds` have elapsed (at least
  * `minPasses` times) and keep one sample per pass. */
object Loop {
  final case class Pass(wallMs: Double, cpuMs: Double)

  def closed(seconds: Double, minPasses: Int = 3)(pass: Int => Unit): Vector[Pass] = {
    val out = Vector.newBuilder[Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      val c0 = Sys.cpuNs(); val t0 = System.nanoTime()
      pass(i)
      val t1 = System.nanoTime(); val c1 = Sys.cpuNs()
      out += Pass((t1 - t0) / 1e6, (c1 - c0) / 1e6)
      i += 1
    }
    out.result()
  }

  /** End-to-end samples of a closed loop over `records` per pass. */
  def record(ctx: Ctx, passes: Vector[Pass], records: Long): Unit = {
    ctx.result("pass_ms") = passes.map(_.wallMs)
    ctx.result("throughput_rps") = passes.map(p => records / (p.wallMs / 1000.0))
    ctx.result("cpu_ms_per_krec") = passes.map(p => p.cpuMs / (records / 1000.0))
  }

  /** Full-size passes run before timing, as part of set-up: the JIT keeps
    * compiling hot code over the first passes, which skews their time and
    * CPU (measured: the first timed passes ran 20-40% slower). */
  def warmUp(n: Int)(pass: Int => Unit): Unit = (1 to n).foreach(i => pass(-i))

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def ms(f: => Unit): Double = time(f)._2

  /** Median of `n` timings of `f`, in ms. */
  def medianMs(n: Int)(f: => Unit): Double = Stats.median((1 to n).map(_ => ms(f)))
}

/** Set-up time: process launch → the timed phase ready to start. It holds
  * the JVM and SparkSession boot and the whole of the workload's set-up
  * (config load/parse/compile, plan, warm-up passes), each part counted
  * once as it ran, the cold first pass included. */
object Setup {
  def measure(ctx: Ctx)(setUp: => Unit): Unit = {
    ctx.spark
    ctx.result("setup_boot_s") = ctx.sinceLaunchS
    setUp
    ctx.result("setup_s") = ctx.sinceLaunchS
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Sys {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return 0.0
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Minimal JSON for the result file (writer) and the manifest (reader,
  * through the Jackson that ships with Spark). */
object Json {
  def read(p: Path): Map[String, Any] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    node.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
  }

  private def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(conv).toVector
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isNull) null
    else n.asText()

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
