package graftbench

import java.nio.file.{Files, Paths}

/** Runs one workload of the benchmark in this JVM:
  *
  *   graftbench.Main --workload build|serve|ingest --seed N --seconds S
  *     --trace 0|1 --work DIR --spans FILE [--budget SECONDS]
  *
  * Prints every figure by name and unit, one CHECK line per correctness
  * check, and last a `RESULT_JSON` line with the verdict and the metrics
  * named in BENCHMARK.json. Exits 0
  * when every operation and check passed, 1 when any failed. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    // seconds this JVM may take; the optional recrawl probe is skipped when
    // too few of them are left
    val deadline = System.nanoTime() + (opts.get("budget").fold(1e6)(_.toDouble) * 1e9).toLong
    val run: Ctx => Unit = workload match {
      case "build" => BuildWorkload.run
      case "serve" => ServeWorkload.run
      case "ingest" => IngestWorkload.run
      case other => usage(s"unknown workload $other")
    }
    Files.createDirectories(work)
    val spark = Common.session(work, workload)
    val report = new Report(workload)
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new Ctx(spark, tracer, work, seed, seconds, report)
    try {
      tracer.span(s"workload $workload", "bench")(run(ctx))
      if (traced) {
        // the run-wide totals describe the workload alone: they are taken
        // before the recrawl probe, which reports only its own figures
        Common.runTotals(ctx)
        if (workload == "build") {
          val left = (deadline - System.nanoTime()) / 1e9
          if (left >= BuildWorkload.ProbeReserveS) BuildWorkload.ingestProbe(ctx)
          else report.info(f"recrawl probe skipped: $left%.0f s left of the run's budget")
        }
        tracer.writeSpans(Paths.get(need("spans")))
        report.info(s"spans written to ${need("spans")}")
      }
    } finally {
      tracer.close()
      spark.stop()
    }
    report.print(traced)
    Console.out.flush()
    sys.exit(if (report.correct) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg\nusage: graftbench.Main --workload build|serve|ingest " +
      "--seed N --seconds S --trace 0|1 --work DIR --spans FILE [--budget SECONDS]")
    sys.exit(2)
  }
}
