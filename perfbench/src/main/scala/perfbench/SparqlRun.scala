package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}

import graft.bgp.{BgpPlanner, Sparql, SparqlServer, SparqlUpdate, TripleStore}

/** The SPARQL read workload: the production endpoint shape
  * `SparqlServer.serve(TripleStore.fromDatasetParquet(root),
  * persistDir = Some(root))` over a versioned dataset root, driven by
  * one closed-loop client on loopback. Its traced run also replays the
  * update path, on a copy of the root.
  */
object SparqlRun {

  final class Client(endpoint: String) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def query(text: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(endpoint))
        .timeout(Duration.ofSeconds(120))
        .header("Content-Type", "application/sparql-query")
        .header("Accept", "application/sparql-results+json")
        .POST(HttpRequest.BodyPublishers.ofString(text)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
  }

  private val askRe = "(?is)^\\s*ask\\b.*"

  /** (rows, hash) of a results-JSON body; ASK answers hash as one
    * `_ask` cell.
    */
  def parseAnswer(body: String): (Long, String) = {
    val n = Json.mapper.readTree(body)
    if (n.has("boolean"))
      (1L, Json.answerHash(Seq("_ask"), Seq(Seq(n.get("boolean").asBoolean.toString))))
    else {
      val vars = n.get("head").get("vars").elements().asScala.map(_.asText()).toSeq
      val rows = n.get("results").get("bindings").elements().asScala.map { b =>
        vars.map(v => Option(b.get(v)).map(_.get("value").asText()).getOrElse("NULL"))
      }.toSeq
      (rows.size.toLong, Json.answerHash(vars, rows))
    }
  }

  private def httpRead(cl: Client, r: Req, phase: String, tracer: Tracer): Sample = {
    val t0 = System.nanoTime()
    try {
      val (code, body) = tracer.span("http.read", r.id)(cl.query(r.text))
      val lat = System.nanoTime() - t0
      if (code != 200) Sample(r.id, r.template, "read", phase, t0, lat, code, 0, "",
        body.take(300))
      else {
        val (rows, hash) = parseAnswer(body)
        Sample(r.id, r.template, "read", phase, t0, lat, code, rows, hash, null)
      }
    } catch {
      case e: Exception =>
        Sample(r.id, r.template, "read", phase, t0, System.nanoTime() - t0, -1,
          0, "", e.toString.take(300))
    }
  }

  /** One closed-loop phase of the single client: it sends its next
    * request only after the previous reply arrived, until `seconds` have
    * passed and the phase holds whole blocks of `block` requests, at
    * least `blocks` of them. Returns the phase's wall time (the last
    * request finishes).
    */
  def closedLoop(phase: String, seconds: Double, blocks: Int, block: Int,
      reads: Iterator[Req], cl: Client, tracer: Tracer,
      out: ConcurrentLinkedQueue[Sample]): Double = {
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0 < seconds * 1e9 || n < blocks * block ||
        n % block != 0) && reads.hasNext) {
      out.add(httpRead(cl, reads.next(), phase, tracer))
      n += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Delta batches a read of the dataset at `root` merges right now. */
  def liveBatches(spark: SparkSession, root: String): Int = {
    val d = new java.io.File(TripleStore.datasetRoot(spark, root), "delta/default")
    Option(d.listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("seq="))
  }

  final case class ReadRec(template: String, parseMs: Double, planMs: Double,
      execMs: Double, plan: Counters, exec: Counters, rows: Long,
      batches: Int) {
    def totalMs: Double = parseMs + planMs + execMs
  }
  final case class UpdRec(parseMs: Double, applyMs: Double, wbMs: Double,
      reloadMs: Double, compaction: Boolean, apply: Counters, wb: Counters)

  /** The handler's read path, called layer by layer with spans and
    * per-layer job groups: parse → plan → Catalyst + capped collect.
    */
  def directRead(spark: SparkSession, store: TripleStore, r: Req,
      coll: Collector, tracer: Tracer): (Sample, ReadRec) = {
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t = System.nanoTime()
      val v = tracer.span(name, r.id)(body)
      (v, (System.nanoTime() - t) / 1e6)
    }
    val t0 = System.nanoTime()
    val ask = r.text.matches(askRe)
    val (q, parseMs) = timed("sparql.parse") {
      if (ask) Sparql.parseAsk(r.text) else Sparql.parse(r.text) }
    val (df, planMs) = coll.attributed(spark, s"${r.id}/plan") {
      timed("planner.plan")(BgpPlanner.plan(store, q)) }
    val ((vars, rows), execMs) = coll.attributed(spark, s"${r.id}/exec") {
      timed("exec.collect") {
        if (ask) {
          val b = df.limit(1).agg((count(lit(1)) > 0).as("result"))
            .collect()(0).getBoolean(0)
          (Seq("_ask"), Seq(Seq(b.toString)))
        } else {
          val rs = df.limit(SparqlServer.MaxResponseRows + 1).collect()
          require(rs.length <= SparqlServer.MaxResponseRows,
            s"result exceeds the ${SparqlServer.MaxResponseRows}-row cap")
          (df.columns.toSeq, rs.toSeq.map(row => df.columns.indices.map(i =>
            if (row.isNullAt(i)) "NULL" else String.valueOf(row.get(i)))))
        }
      }
    }
    val s = Sample(r.id, r.template, "read", "C", t0, System.nanoTime() - t0,
      200, rows.size, Json.answerHash(vars, rows), null)
    (s, ReadRec(r.template, parseMs, planMs, execMs,
      coll.of(s"${r.id}/plan"), coll.of(s"${r.id}/exec"), rows.size, 0))
  }

  /** The handler's update path (SparqlServer.serve's persistDir arm),
    * layer by layer: parse → applyWithDelta → writeBackDelta →
    * fromDatasetParquet. Returns the reloaded store.
    */
  def directUpdate(spark: SparkSession, store: TripleStore, root: String,
      r: Req, coll: Collector, tracer: Tracer)
      : (Sample, UpdRec, TripleStore) = {
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t = System.nanoTime()
      val v = tracer.span(name, r.id)(body)
      (v, (System.nanoTime() - t) / 1e6)
    }
    val t0 = System.nanoTime()
    val (ops, parseMs) = timed("update.parse")(SparqlUpdate.parse(r.text))
    val ((next, deltas), applyMs) = coll.attributed(spark, s"${r.id}/apply") {
      timed("update.apply") {
        ops.foldLeft((store, Vector.empty[TripleStore.OpDelta])) {
          case ((st, acc), op) =>
            val (n, d) = SparqlUpdate.applyWithDelta(spark, st, op)
            (n, acc :+ d)
        }
      }
    }
    val v0 = TripleStore.currentVersion(spark, root)
    val (_, wbMs) = coll.attributed(spark, s"${r.id}/writeback") {
      timed("store.writeback")(TripleStore.writeBackDelta(store, next, root, deltas)) }
    val compaction = TripleStore.currentVersion(spark, root) != v0
    val (reloaded, reloadMs) = coll.attributed(spark, s"${r.id}/reload") {
      timed("store.reload")(TripleStore.fromDatasetParquet(spark, root)) }
    val s = Sample(r.id, r.template, "update", "C", t0,
      System.nanoTime() - t0, 204, 0, "", null)
    (s, UpdRec(parseMs, applyMs, wbMs, reloadMs, compaction,
      coll.of(s"${r.id}/apply"), coll.of(s"${r.id}/writeback")), reloaded)
  }

  /** Sequential direct-layer replay of the continuing request streams
    * against the dataset at `root`: ops follow `cycle` (true = an
    * update), for at least `minSecs`, until every template in `cover`
    * was read and — when the cycle writes — one update compacted.
    */
  def replay(spark: SparkSession, root: String, cycle: Seq[Boolean],
      minSecs: Double, cover: Seq[String], reads: Iterator[Req],
      upds: Iterator[Req], coll: Collector, tracer: Tracer,
      samples: ConcurrentLinkedQueue[Sample]): (Seq[ReadRec], Seq[UpdRec], Double) = {
    val readRecs = Vector.newBuilder[ReadRec]
    val updRecs = Vector.newBuilder[UpdRec]
    val writes = cycle.contains(true)
    var st = TripleStore.fromDatasetParquet(spark, root)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var seen = Set.empty[String]
    var compacted = false
    var n = 0
    while (n < 600 && elapsed < minSecs * 4 + 60 &&
        (elapsed < minSecs || cover.exists(!seen(_)) || (writes && !compacted))) {
      val write = cycle(n % cycle.size)
      require((if (write) upds else reads).hasNext, "request stream exhausted")
      if (write) {
        val (s, rec, next) = directUpdate(spark, st, root, upds.next(), coll, tracer)
        samples.add(s); updRecs += rec; st = next
        compacted ||= rec.compaction
      } else {
        val r = reads.next()
        val batches = liveBatches(spark, root)
        try {
          val (s, rec) = directRead(spark, st, r, coll, tracer)
          samples.add(s)
          readRecs += rec.copy(batches = batches)
        } catch { case e: Exception =>
          samples.add(Sample(r.id, r.template, "read", "C", System.nanoTime(),
            0, -1, 0, "", e.toString.take(300)))
        }
        seen += r.template
      }
      n += 1
    }
    (readRecs.result(), updRecs.result(), elapsed)
  }

  def run(o: Opts, spark: SparkSession, tracer: Tracer, result: ObjectNode): Unit = {
    val reqs = Json.read(o.requests)
    val block = reqs.get("block").asInt
    val all = Json.reqs(reqs.get("reads"))
    val templates = all.map(_.template).distinct
    val reads = all.iterator
    val upds = Json.reqs(reqs.get("updates")).iterator
    val samples = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()

    // set-up: the store is built into a fresh directory and served
    val root = s"${o.runDir}/store"
    val tBuild = System.nanoTime()
    TripleStore.writeDatasetVersioned(TripleStore.fromStarSchema(spark, o.corpus), root)
    val buildS = (System.nanoTime() - tBuild) / 1e9
    val tServe = System.nanoTime()
    val handle = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, root),
      persistDir = Some(root))
    val serveS = (System.nanoTime() - tServe) / 1e9
    // warm-up: one request of every template
    val tWarm = System.nanoTime()
    val client = new Client(handle.endpoint)
    Json.reqs(reqs.get("warmup")).foreach(r =>
      samples.add(httpRead(client, r, "warmup", tracer)))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val firstOpMs = System.currentTimeMillis()
    val setup = result.putObject("setup")
    setup.put("setup_s", (firstOpMs - o.spawnMs) / 1000.0)
    setup.put("build_s", buildS)
    setup.put("serve_s", serveS)
    setup.put("warmup_s", warmS)

    val (phaseSecs, units) = o.phase
    val phases = result.putObject("phases")
    phases.put("A", closedLoop("A", phaseSecs, units, block, reads, client, tracer, samples))
    // one client: the endpoint serves one request at a time, so a second
    // client only queues in front of it and doubles the run-to-run spread
    result.put("clients", 1)

    val coll = new Collector
    var readRecs = Seq.empty[ReadRec]
    var batchRecs = Seq.empty[ReadRec]
    var updRecs = Seq.empty[UpdRec]
    val side = s"${o.runDir}/side"
    if (o.trace) {
      coll.register(spark)
      tracer.enabled = true
      phases.put("B", closedLoop("B", phaseSecs, units, block, reads, client, tracer, samples))
      handle.stop()
      // C: sequential direct-layer replay of the continuing read stream
      val (rs, _, secs) = replay(spark, root, Seq(false), phaseSecs, templates,
        reads, upds, coll, tracer, samples)
      readRecs = rs
      phases.put("C", secs)
      // C2: the write path, on a copy of the root so that no read of this
      // workload ever sees a write; one read per three updates
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root), new java.io.File(side))
      val (brs, us, secs2) = replay(spark, side, Seq(true, true, true, false), 0,
        Nil, reads, upds, coll, tracer, samples)
      batchRecs = brs; updRecs = us
      phases.put("C2", secs2)
      tracer.enabled = false
      coll.unregister(spark)
    } else handle.stop()

    // end-of-run state: live triples (the root has no delta log, so the
    // base layout's row count from parquet footers), bytes on disk, and
    // the bench triples of the updated copy
    val store = result.putObject("store")
    store.put("live_triples",
      spark.read.parquet(s"${TripleStore.datasetRoot(spark, root)}/default").count())
    val (bytes, files) = Resources.du(root)
    store.put("bytes", bytes); store.put("files", files)
    store.put("build_s", buildS)
    store.put("compactions", updRecs.count(_.compaction))
    if (updRecs.nonEmpty) {
      val bench = store.putArray("bench_triples")
      TripleStore.fromDatasetParquet(spark, side).slices.toSeq.sortBy(_._1)
        .foreach { case (p, df) =>
          df.filter(col("s").startsWith("bench:")).collect().foreach { row =>
            val t = bench.addArray()
            t.add(row.getAs[String]("s")); t.add(p); t.add(row.getAs[String]("o"))
          }
        }
    }
    Json.samples(result.putArray("samples"), samples.asScala, t0)
    if (o.trace) {
      val layers = result.putObject("layers")
      Layers.sparql(o, layers, samples.asScala.toSeq, readRecs, batchRecs, updRecs)
      Layers.store(layers, store)
    }
  }
}
