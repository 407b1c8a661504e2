package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Command-line options of one benchmark process (set by run.py). */
final case class Opts(
    workload: String,
    seconds: Double,
    trace: Boolean,
    seed: Long,
    corpus: String,
    runDir: String,
    requests: String,
    spawnMs: Long,
    cpus: Int) {

  /** (seconds, least whole units) of one timed phase; the traced run
    * splits both between its untraced and traced halves.
    */
  def phase: (Double, Int) =
    if (trace) (seconds / 2, Opts.MinUnits / 2) else (seconds, Opts.MinUnits)
}

object Opts {
  /** Whole units (blocks of SPARQL requests, passes over the headline
    * queries) a timed phase holds at least. A unit takes about 8–12 s on
    * a 4-core VM: a phase that ends on time alone holds one unit on a
    * slow run and two on a fast one, and the two modes' medians differ by
    * a fifth to a half.
    */
  val MinUnits = 2

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seconds").toDouble, get("trace") == "1",
      get("seed").toLong, get("corpus"), get("run-dir"), get("requests"),
      get("spawn-ms").toLong, get("cpus").toInt)
  }
}

/** One generated request: the template it came from and its text. */
final case class Req(id: String, template: String, text: String)

/** One completed operation. `phase` is `warmup`, `A` (untraced timed),
  * `B` (traced timed) or `C` (traced direct-layer replay).
  */
final case class Sample(id: String, template: String, kind: String,
    phase: String, startNs: Long, latNs: Long, status: Int, rows: Long,
    hash: String, error: String)

object Json {
  val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def reqs(n: JsonNode): Vector[Req] =
    n.elements().asScala.map(r => Req(r.get("id").asText(),
      r.get("template").asText(), r.get("text").asText())).toVector

  /** Order-insensitive answer hash: cells ordered by variable name,
    * joined by U+0001, rows sorted and joined by newlines, SHA-256.
    * perfbench/check.py computes the same over the oracle's rows.
    */
  def answerHash(vars: Seq[String], rows: Seq[Seq[String]]): String = {
    val order = vars.indices.sortBy(vars(_))
    val lines = rows.map(r => order.map(i => r(i)).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  def samples(out: ArrayNode, ss: Iterable[Sample], t0: Long): Unit =
    ss.foreach { s =>
      val o = out.addObject()
      o.put("id", s.id); o.put("template", s.template); o.put("kind", s.kind)
      o.put("phase", s.phase); o.put("start_ms", (s.startNs - t0) / 1e6)
      o.put("lat_ms", s.latNs / 1e6); o.put("status", s.status)
      o.put("rows", s.rows); o.put("hash", s.hash)
      if (s.error != null) o.put("error", s.error)
    }
}

/** Process-level resource readings. */
object Resources {
  private def statusKb(key: String): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).get.split("\\s+")(1).toLong
  }.getOrElse(0L)

  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after a full collection: what the engine holds
    * on to (caches, memos, persisted blocks) once the work is done.
    */
  def heapRetainedMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def heapPeakMb: Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (bytes, files) under `dir`, recursively. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }
}

/** Stats helpers over measured values. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Benchmark process entry: runs one workload (or `layouts`, the
  * untimed build of the analytics workload's persisted layouts) and writes
  * `<run-dir>/jvm_result.json` (and `spans.jsonl` when traced). Exit
  * code 0 means the workload ran to the end; answer correctness is
  * judged afterwards by run.py against independent oracles.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val result = Json.mapper.createObjectNode()
    val tracer = new Tracer
    val code =
      try {
        val spark = graft.GraftSession.local(o.cpus.toString)
        spark.sparkContext.setLogLevel("ERROR")
        val tSession = System.currentTimeMillis()
        result.put("session_s", (tSession - o.spawnMs) / 1000.0)
        val versions = result.putObject("versions")
        versions.put("spark", spark.version)
        versions.put("java", System.getProperty("java.version"))
        versions.put("java_vm", System.getProperty("java.vm.name"))
        o.workload match {
          case "sparql_read" => SparqlRun.run(o, spark, tracer, result)
          case "analytics_headline" => AnalyticsRun.run(o, spark, tracer, result)
          case "layouts" => AnalyticsRun.buildLayouts(o, spark)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        val res = result.putObject("resources")
        res.put("peak_rss_mb", Resources.peakRssMb)
        res.put("heap_peak_mb", Resources.heapPeakMb)
        res.put("gc_ms", Resources.gcMs)
        res.put("heap_retained_mb", Resources.heapRetainedMb)
        spark.stop()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          result.put("fatal", e.toString)
          1
      }
    if (o.trace) tracer.write(s"${o.runDir}/spans.jsonl")
    Files.writeString(Paths.get(s"${o.runDir}/jvm_result.json"),
      Json.mapper.writeValueAsString(result))
    // the HTTP server's dispatcher and Spark's pools are not all daemon
    // threads: exit explicitly once the result is on disk
    sys.exit(code)
  }
}
