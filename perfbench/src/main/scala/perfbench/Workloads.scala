package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.streaming.HttpFacade

/** `replay`: a closed loop that replays the compacted topic, as on service
  * restart. Fixed-size batches of Zipf-skewed frames; each batch is processed
  * to completion before the next is sent; no reads until the final check.
  */
object Replay {
  val BatchFrames = 5000

  def run(run: Run): Unit = {
    val newGen = () => new Gen.Replay(run.seed)
    val (p, gen, warm) = Streams.setUp(run, newGen, BatchFrames, warmRead = false)
    val out = run.out
    val fromBatch = p.lastBatchId
    val sent = mutable.ArrayBuffer.empty[Update] ++= warm
    val sends = mutable.ArrayBuffer.empty[(Long, Long)] // (end offset, send time)
    run.jobs.on = true
    val start = System.nanoTime()
    val until = start + run.seconds * 1_000_000_000L
    while (System.nanoTime() < until) {
      val batch = gen.take(BatchFrames)
      sent ++= batch
      val t = System.nanoTime()
      sends += p.send(batch.map(_.frame)) -> t
      p.query.processAllAvailable()
    }
    val elapsed = System.nanoTime() - start
    p.drain()
    run.jobs.on = false
    val updates = sent.size - warm.size
    out.attempted += updates

    val batches = p.progress.batches(fromBatch)
    val fresh = sends.toSeq.flatMap { case (off, t) => p.readableAt(off).map(r => (r - t) / 1e6) }
    if (fresh.size != sends.size) out.wrong(s"${sends.size - fresh.size} sends never became readable")
    out.e2e("updates_per_s") = updates / (elapsed / 1e9)
    Stats.summary("batch_ms", batches.map(b => p.progress.duration(b, "triggerExecution")), out)
    Stats.summary("freshness_ms", fresh, out)
    out.info("batch_frames") = BatchFrames.toString
    out.info("frames_sha256") = Json.str(gen.frameDigest)
    out.info("frames_sent") = sent.size.toString

    val served = run.spans("serving.asMap") { _ => p.serving.asMap }
    if (run.trace) {
      Streams.layers(run, p, fromBatch, start, updates)
      out.layers("serving.snapshot_ms") = run.spans.named("serving.asMap").head.ms
      Streams.parseLayer(run, p.spark, sent.toSeq)
    }
    Streams.check(run, p.spark, served, sent.toSeq, newGen)
    run.anchors(p.spark)
    p.stop()
    p.spark.stop()
  }
}

/** `live`: an open-loop stream at a fixed offered rate on the default
  * trigger, with one closed-loop HTTP client reading `GET /local-state`
  * beside it.
  */
object Live {
  val RatePerS = 1000
  val TickMs = 50
  /** An update later than this counts as failed. */
  val FreshnessLimitMs = 30000.0
  /** Tries per read. `ParquetServing.snapshot` fails now and then when it
    * overlaps an upsert's commit (a listing race on the vanishing
    * `.spark-staging-*` directory, a program defect), so whether a single
    * try fails is left to chance. A failed try is counted and reported, and
    * the read tries again at once; only a read whose every try fails counts
    * as failed. The read's time includes its failed tries.
    */
  val ReadTries = 5

  def run(run: Run): Unit = {
    val newGen = () => new Gen.Live(run.seed)
    val (p, gen, warm) = Streams.setUp(run, newGen, RatePerS / 10, warmRead = true)
    val out = run.out
    val fromBatch = p.lastBatchId
    // the request in flight: one connection, one request at a time, so the
    // server-side `state()` span can name the client-side span as its cause
    val request = new java.util.concurrent.atomic.AtomicLong(0)
    val facade = new HttpFacade(
      produce = (_, _, _, _) => throw new UnsupportedOperationException("the benchmark only reads"),
      state = () => run.spans("http.state", parent = request.get) { _ => p.serving.asMap })
    facade.start()
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val get = HttpRequest.newBuilder(URI.create(s"http://localhost:${facade.boundPort}/local-state")).build()

    // (first index, count, end offset) of each chunk sent
    val chunks = mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val sent = mutable.ArrayBuffer.empty[Update] ++= warm
    val reads = mutable.ArrayBuffer.empty[(Double, Int, Long)] // (ms, status, bytes)
    var lagMs = 0.0
    run.jobs.on = true
    val start = System.nanoTime()
    val until = start + run.seconds * 1_000_000_000L
    def due(i: Long): Long = start + i * 1_000_000_000L / RatePerS

    val generator = new Thread(() => {
      var next = 0L
      while (System.nanoTime() < until) {
        val now = System.nanoTime()
        val upTo = math.min(((now - start) * RatePerS) / 1_000_000_000L,
          run.seconds.toLong * RatePerS)
        if (upTo > next) {
          val batch = gen.take((upTo - next).toInt)
          val off = p.send(batch.map(_.frame))
          val t = System.nanoTime()
          sent.synchronized { sent ++= batch }
          chunks.synchronized { chunks += ((next, batch.size, off)) }
          lagMs = math.max(lagMs, (t - due(upTo - 1)) / 1e6)
          next = upTo
        }
        Thread.sleep(TickMs)
      }
    }, "perfbench-generator")
    // failed tries: (status, what the server or the client said)
    val tryErrors = mutable.ArrayBuffer.empty[(Int, String)]
    val reader = new Thread(() => {
      while (System.nanoTime() < until) {
        val t0 = System.nanoTime()
        var r = (-1, 0L)
        var tries = 0
        while (r._1 != 200 && tries < ReadTries) {
          tries += 1
          r = run.spans("http.GET /local-state") { id =>
            request.set(id)
            try {
              val resp = http.send(get, HttpResponse.BodyHandlers.ofByteArray())
              if (resp.statusCode != 200) tryErrors.synchronized {
                tryErrors += ((resp.statusCode, new String(resp.body, "UTF-8").take(300)))
              }
              (resp.statusCode, resp.body.length.toLong)
            } catch {
              case e: Exception =>
                tryErrors.synchronized { tryErrors += ((-1, e.toString.take(300))) }
                (-1, 0L)
            }
          }
        }
        reads.synchronized { reads += (((System.nanoTime() - t0) / 1e6, r._1, r._2)) }
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join(); reader.join()
    val windowEnd = System.nanoTime()
    p.drain()
    run.jobs.on = false
    // updates readable when the window closed, and the backlog behind them
    val committed = chunks.filter(c => p.readableAt(c._3).exists(_ <= windowEnd)).map(_._2).sum

    val batches = p.progress.batches(fromBatch)
    val updates = sent.size - warm.size
    val fresh = mutable.ArrayBuffer.empty[Double]
    var unread = 0
    for ((first, n, off) <- chunks) p.readableAt(off) match {
      case Some(readable) => (0 until n).foreach(i => fresh += (readable - due(first + i)) / 1e6)
      case None => unread += n
    }
    val lastReadable = chunks.flatMap(c => p.readableAt(c._3)).max
    val late = fresh.count(_ > FreshnessLimitMs)
    val badReads = reads.count(_._2 != 200)
    out.attempted += updates + reads.size
    if (late + unread > 0) out.fail(late + unread, s"${late + unread} updates later than ${FreshnessLimitMs.toInt} ms")
    if (badReads > 0) out.fail(badReads, s"$badReads of ${reads.size} GET /local-state failed $ReadTries times")
    // the read race, reported on every run whether or not a retry hid it
    out.info("read_tries_failed") = tryErrors.size.toString
    out.info("read_try_errors") = Json.value(tryErrors.map { case (c, m) => s"$c: $m" }.distinct.take(5).toSeq)
    // the window's updates over the time until the last of them was readable
    out.e2e("updates_per_s") = updates / ((lastReadable - start) / 1e9)
    Stats.summary("freshness_ms", fresh.toSeq, out)
    Stats.summary("read_ms", reads.map(_._1).toSeq, out)
    Stats.summary("batch_ms", batches.map(b => p.progress.duration(b, "triggerExecution")), out)
    out.info("offered_per_s") = RatePerS.toString
    out.info("freshness_limit_ms") = FreshnessLimitMs.toString
    out.info("frames_sha256") = Json.str(gen.frameDigest)
    out.info("frames_sent") = sent.size.toString

    if (run.trace) {
      Streams.layers(run, p, fromBatch, start, updates)
      val states = run.spans.named("http.state").map(_.ms)
      val ok = reads.filter(_._2 == 200)
      out.layers("serving.snapshot_ms") = if (states.isEmpty) 0.0 else Stats.median(states)
      out.layers("serving.read_failures") = tryErrors.size.toDouble
      out.layers("http.local_state_ms") = if (reads.isEmpty) 0.0 else Stats.median(reads.map(_._1).toSeq)
      // self time: a request's span minus the `state()` span it caused
      val self = run.spans.named("http.GET /local-state").map(g => g.ms - run.spans.childrenOf(g.id).map(_.ms).sum)
      out.layers("http.self_ms") = if (self.isEmpty) 0.0 else Stats.median(self.toSeq)
      out.layers("http.response_bytes") = if (ok.isEmpty) 0.0 else Stats.median(ok.map(_._3.toDouble).toSeq)
      out.layers("gen.lag_ms_max") = lagMs
      out.layers("gen.backlog_end") = (updates - committed).toDouble
      Streams.parseLayer(run, p.spark, sent.toSeq)
    }
    // the final check reads through the HTTP surface, as a user would; a
    // failed read counts, and the view is then checked through asMap
    val resp = http.send(get, HttpResponse.BodyHandlers.ofString())
    out.attempted += 1
    val served =
      if (resp.statusCode == 200)
        new ObjectMapper().readTree(resp.body).elements().asScala.map { n =>
          n.get("key").asText() -> n.get("value").elements().asScala.map(_.asText()).toSeq
        }.toMap
      else {
        out.fail(1, s"final GET /local-state returned ${resp.statusCode}: ${resp.body.take(200)}")
        p.serving.asMap
      }
    Streams.check(run, p.spark, served, sent.toSeq, newGen)
    facade.stop()
    run.anchors(p.spark)
    p.stop()
    p.spark.stop()
  }
}
