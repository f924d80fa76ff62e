package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{Graft, SparkEntry}

/** `batch`: declared queries of `SparkEntry.queries` over the sf0.01 fixture,
  * each once, to completion, in sorted order, cold (a fresh session, so no
  * session memo is built yet). The list and the row count each query must
  * return are in `batch_queries.json`.
  */
object Batch {
  /** Query families reported per layer, by name prefix; `q` is the core
    * `q<N>_*` set and `other` the rest.
    */
  val Families = Seq("dedup", "simsearch", "decontaminate", "vocab", "text", "sample", "asof", "events", "q", "other")

  def family(query: String): String =
    if (query.matches("q\\d+_.*")) "q"
    else Families.find(f => query.startsWith(f + "_") || query == f).getOrElse("other")

  def run(run: Run): Unit = {
    val expected = new ObjectMapper().readTree(run.bench.resolve("batch_queries.json").toFile)
      .fields().asScala.map(e => e.getKey -> e.getValue.asLong).toSeq.sortBy(_._1)
    val unknown = expected.map(_._1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"batch_queries.json names undeclared queries: ${unknown.mkString(", ")}")
    val dir = run.data.toString
    val out = run.out

    var spark: org.apache.spark.sql.SparkSession = null
    run.setups { _ =>
      if (spark != null) spark.stop()
      spark = Graft.session("perfbench")
      // warm-up: one scan and one aggregate, as graft.Bench does, outside the
      // measured list so that every measured query stays cold
      spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().collect()
    }
    spark.sparkContext.addSparkListener(run.jobs)

    def pass(label: String): Seq[(String, Double)] = expected.map { case (name, rows) =>
      out.attempted += 1
      val t0 = System.nanoTime()
      val got = try Right(run.spans(s"batch.$label.$name") { _ => SparkEntry.queries(name)(spark, dir).count() })
        catch { case e: Throwable => Left(e.toString.linesIterator.next().take(200)) }
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      got match {
        case Left(err) => out.fail(1, s"$name threw: $err")
        case Right(n) if n != rows => out.fail(1, s"$name returned $n rows, expected $rows"); out.wrong(s"$name row count")
        case _ => ()
      }
      name -> s
    }

    run.jobs.on = true
    val cold = pass("cold")
    run.jobs.on = false
    val secs = cold.map(_._2)
    out.e2e("query_s_total") = secs.sum
    out.e2e("queries_per_s") = secs.size / secs.sum
    Stats.summary("query_s", secs, out)
    // input -> complete result: when each query's result is ready, counted
    // from the start of the list
    Stats.summary("result_s", secs.scanLeft(0.0)(_ + _).tail, out)
    out.info("query_s_each") = Json.obj(cold: _*)

    if (run.trace) {
      val j = run.jobs
      out.layers("batch.jobs") = j.jobs.sum.toDouble
      out.layers("batch.stages") = j.stages.sum.toDouble
      out.layers("batch.tasks") = j.tasks.sum.toDouble
      out.layers("batch.shuffle_read_bytes") = j.shuffleRead.sum.toDouble
      out.layers("batch.shuffle_write_bytes") = j.shuffleWrite.sum.toDouble
      out.layers("batch.spill_bytes") = j.spill.sum.toDouble
      out.layers("batch.executor_run_ms") = j.runMs.sum.toDouble
      out.layers("batch.overhead_share") = math.max(0.0, 1.0 - j.criticalMs.sum / 1000.0 / secs.sum)
      for (f <- Families)
        out.layers(s"batch.family.${f}_s") = cold.filter(c => family(c._1) == f).map(_._2).sum
      // a second pass in the same session: session memos are now built
      val served = pass("served").map(_._2).sum
      out.layers("batch.served_s_total") = served
      out.layers("batch.memo_build_share") = (secs.sum - served) / secs.sum
    }
    run.anchors(spark)
    spark.stop()
  }
}
