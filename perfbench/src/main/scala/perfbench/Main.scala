package perfbench

import java.nio.file.{Path, Paths}

import graft.SparkEntry

/** One benchmark run, as `run.py` launches it:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <t0 epoch ms> <work dir> <bench dir>`.
  * Prints one JSON line, prefixed `PERFBENCH `, with the workload's own
  * metrics; `run.py` maps them onto the names in `BENCHMARK.json`.
  */
final class Run(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
                t0EpochMs: Long, val work: Path, val bench: Path) {
  val out = new Out
  val spans = new Spans(trace)
  val jobs = new JobStats
  val data: Path = bench.resolve("testdata").resolve("sf0.01")

  /** Runs `setUp` `Main.Setups` times and reports the median as `setup_s`.
    * The first is timed from process start (JVM start, session build,
    * warm-up); the rest rebuild the session and warm up again in this JVM.
    */
  def setups(setUp: Int => Unit): Unit = {
    val times = (1 to Main.Setups).map { i =>
      val t0 = System.nanoTime()
      setUp(i)
      if (i == 1) (System.currentTimeMillis() - t0EpochMs) / 1000.0
      else (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s") = Stats.median(times)
    out.info("setup_s_each") = Json.value(times)
  }

  /** Provenance: the cheap `q1_filter_project` / `q2_agg` anchors, timed in
    * the run's last session after the measurement.
    */
  def anchors(spark: org.apache.spark.sql.SparkSession): Unit =
    for (q <- Seq("q1_filter_project", "q2_agg")) {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, data.toString).count()
      out.info(s"anchor_${q}_s") = ((System.nanoTime() - t0) / 1e9).toString
    }
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, t0, work, bench) = args
    val run = new Run(workload, seed.toLong, seconds.toInt, trace == "1", t0.toLong,
      Paths.get(work), Paths.get(bench))
    workload match {
      case "replay" => Replay.run(run)
      case "live" => Live.run(run)
      case "batch" => Batch.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (run.trace) run.spans.write(run.work.resolve("spans.jsonl"))
    println("PERFBENCH " + run.out.json)
  }
}
