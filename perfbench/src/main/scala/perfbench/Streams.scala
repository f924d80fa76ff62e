package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Graft
import graft.sources.KafkaChangelog
import graft.streaming.{KTableProcessor, ParquetServing}
import graft.streaming.KTableStream.ClientView

/** The shipped streaming path, wired as the reference wires it: Kafka frames
  * -> `KafkaChangelog.parse` -> `KTableProcessor` (KTable state) ->
  * `ParquetServing.upsertBatch` (serving store). Only the frames' source is a
  * `MemoryStream` in place of the broker.
  */
final class Pipeline(val spark: SparkSession, dir: Path, spans: Spans) {
  import spark.implicits._
  private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val progress = new Progress
  spark.streams.addListener(progress)
  val input: MemoryStream[Frame] = MemoryStream[Frame]
  val storeDir: Path = dir.resolve("store")
  val serving = new ParquetServing(storeDir.toString)
  /** batchId -> System.nanoTime when its `upsertBatch` returned. */
  val upserts = new ConcurrentHashMap[Long, Long]()

  val query: StreamingQuery =
    KTableProcessor.usShareHolders(spark, KafkaChangelog.parse(spark, input.toDF()))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch { (b: Dataset[ClientView], id: Long) =>
        spans("serving.upsertBatch") { _ => serving.upsertBatch(b, id) }
        upserts.put(id, System.nanoTime())
        ()
      }
      .start()

  /** Hands frames to the source; returns the source offset they end at. */
  def send(frames: Seq[Frame]): Long = input.addData(frames).json().toLong

  /** Blocks until every frame sent is committed and its progress event is
    * delivered to the listener.
    */
  def drain(): Unit = {
    query.processAllAvailable()
    val last = lastBatchId
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!progress.all.asScala.exists(_.batchId >= last) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** When data up to source `offset` became readable: the end of the
    * upsert of the first batch that read that far.
    */
  def readableAt(offset: Long): Option[Long] =
    progress.all.asScala.find(b => b.numInputRows > 0 && progress.endOffset(b) >= offset)
      .map(b => upserts.get(b.batchId))

  def lastBatchId: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

  def stop(): Unit = {
    query.stop()
    spark.streams.removeListener(progress)
  }
}

/** Shared by `replay` and `live`: session build and warm-up repeated
  * `Main.Setups` times (the median is `setup_s`), the per-layer readout of
  * the engine, KTable state and serving write, and the final check.
  */
object Streams {

  /** Builds the session the library ships plus a pipeline, and runs one
    * warm-up micro-batch of `warmFrames` through it; with `warmRead`, also
    * one read of the serving store, so that the first timed read does not
    * pay the read path's one-off start-up. All but the last set-up are torn
    * down again.
    */
  def setUp(run: Run, newGen: () => Gen, warmFrames: Int, warmRead: Boolean): (Pipeline, Gen, Vector[Update]) = {
    var last: (Pipeline, Gen, Vector[Update]) = null
    run.setups { i =>
      if (last != null) { last._1.stop(); last._1.spark.stop() }
      val spark = Graft.session("perfbench")
      spark.sparkContext.addSparkListener(run.jobs)
      val p = new Pipeline(spark, run.work.resolve(s"stream-$i"), run.spans)
      val gen = newGen()
      val warm = gen.take(warmFrames)
      p.send(warm.map(_.frame))
      p.drain()
      if (warmRead) p.serving.asMap
      last = (p, gen, warm)
    }
    last
  }

  /** Engine, KTable-state and serving-write metrics over batches after
    * `fromBatch` (the warm-up), which started at `startNs`, from
    * `StreamingQueryProgress`, the listener and the upsert spans.
    */
  def layers(run: Run, p: Pipeline, fromBatch: Long, startNs: Long, updates: Long): Unit = {
    val bs = p.progress.batches(fromBatch)
    val out = run.out
    for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")) {
      val xs = bs.map(b => p.progress.duration(b, ph))
      out.layers(s"trigger.${ph}_ms.p50") = if (xs.isEmpty) 0.0 else Stats.median(xs)
      out.layers(s"trigger.${ph}_ms.sum") = xs.sum
    }
    out.layers("trigger.batches") = bs.size.toDouble
    out.layers("trigger.rows_per_batch") =
      if (bs.isEmpty) 0.0 else bs.map(_.numInputRows.toDouble).sum / bs.size
    def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      bs.map(_.stateOperators.map(f).sum)
    out.layers("state.rows_total") = bs.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    out.layers("state.rows_updated") = ops(_.numRowsUpdated.toDouble).sum
    out.layers("state.rows_removed") = ops(_.numRowsRemoved.toDouble).sum
    out.layers("state.update_ms") = ops(s => (s.allUpdatesTimeMs + s.allRemovalsTimeMs).toDouble).sum
    out.layers("state.commit_ms") = ops(_.commitTimeMs.toDouble).sum
    out.layers("state.memory_bytes") =
      bs.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
    for ((name, metric) <- Seq(
        "get_count" -> "rocksdbGetCount", "put_count" -> "rocksdbPutCount",
        "file_sync_ms" -> "rocksdbCommitFileSyncLatencyMs",
        "zip_ms" -> "rocksdbSaveZipFilesLatencyMs",
        "bytes_written" -> "rocksdbTotalBytesWritten"))
      out.layers(s"state.rocksdb.$name") = bs.map(b => p.progress.stateMetric(b, metric)).sum
    val written = run.jobs.recordsWritten.sum.toDouble
    out.layers("ktable.emit_ratio") = if (updates == 0) 0.0 else written / updates
    out.layers("serving.view_rows_written") = written
    val ups = run.spans.named("serving.upsertBatch").filter(_.startNs >= startNs).map(_.ms)
    out.layers("serving.upsert_ms") = if (ups.isEmpty) 0.0 else Stats.median(ups)
    out.layers("serving.changelog_partitions") =
      Option(p.storeDir.toFile.listFiles()).map(_.count(_.getName.startsWith("batch_id="))).getOrElse(0).toDouble
  }

  /** `KafkaChangelog.parse` over the run's own frames, median of three.
    * Each row is decoded to a `ShareUpdate`, as the KTable's `groupByKey`
    * does: a bare `count()` would let the optimizer prune the JSON decode.
    */
  def parseLayer(run: Run, spark: SparkSession, updates: Seq[Update]): Unit = {
    import spark.implicits._
    val frames = updates.map(_.frame).toDF().cache()
    frames.count()
    val times = (1 to 3).map { _ =>
      run.spans("sources.parse") { _ =>
        KafkaChangelog.parse(spark, frames).foreach((_: graft.streaming.KTableStream.ShareUpdate) => ())
      }
      run.spans.named("sources.parse").last.ms
    }
    frames.unpersist()
    val ms = Stats.median(times)
    run.out.layers("parse.ms") = ms
    run.out.layers("parse.rows_per_s") = updates.size / (ms / 1000.0)
  }

  /** Compares the served view with the batch recompute of the changelog
    * that `newGen` produces again from the seed. A changelog that differs
    * from the one sent, or a view that differs from the recompute, fails:
    * the same seed must give the same frames and the same final view.
    */
  def check(run: Run, spark: SparkSession, served: Map[String, Seq[String]], sent: Seq[Update],
            newGen: () => Gen): Unit = {
    run.out.attempted += 1
    val again = newGen().take(sent.size)
    if (again != sent) run.out.wrong(s"seed ${run.seed} did not reproduce the changelog it sent")
    val want = Gen.expectedView(spark, again)
    Gen.firstDiff(served, want).foreach { d =>
      run.out.fail(1, s"final view differs from ShareHolders.nasdaqPositionsByClient: $d")
      run.out.wrong("final view mismatch")
    }
    run.out.info("view_clients") = want.size.toString
  }
}
