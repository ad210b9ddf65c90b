package graftbench

import graft.core.{CorpusGen, SourceFile}
import graft.index.IndexBuilder
import graft.query.{LocalSearcher, QueryEngine, SearchIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `serve`: open-loop, fixed-rate query streams against an in-process
  * `LocalSearcher` over a tf-skewed corpus. Only reads, CPU-bound in the
  * dfs and block caches, decode, WAND scoring and pagination; no Spark job
  * runs in the timed window, because the warm-up fetches every term the
  * query mix can emit and every doc's metadata into the default unbounded
  * caches. The tf skew lets block-max pruning skip blocks. */
object ServeWorkload {
  /** The index holds every [[Stride]]-th file of the `Files * Stride`-file
    * `CorpusGen.generateSkewedDF` corpus, under dense docIds. The skewed
    * generator lowers tf as a file's id grows (by 1 / (1 + id / 5000)), so
    * the sample keeps the tf decay of the whole corpus: over a plain
    * 10,000-file corpus the decay is too shallow for block-max pruning to
    * skip blocks. The stride is prime to the planting periods (23, 3 and
    * 9), so every planted term keeps its share of files. */
  val Files = 20000L
  val Stride = 5L
  /** Light fixed rate, and the loaded one: about 70% of the capacity
    * (`max_qps`) measured at the commit that defined this benchmark. */
  val LowRate = 300.0
  val HighRate = 1250.0
  /** Latency limit on p99 for the capacity ladder. */
  val P99LimitMs = 50.0
  /** Capacity ladder: LadderBase * LadderStep^k, k = 0 .. LadderSteps. Its
    * 3% steps are finer than the bound on `throughput_per_s`. */
  val LadderBase = 100.0
  val LadderStep = 1.03
  val LadderSteps = 140
  val Rounds = 6
  val CheckSample = 5
  val ReplayQueries = 200

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val indexDir = ctx.dir("index")

    // set-up: build, open, load and warm the serving image
    val ((li, blocks, si, warmS), setupS) = Common.timed {
      ctx.span("IndexBuilder.build", "index") {
        IndexBuilder.build(spark, corpus(spark, ctx.seed), indexDir, Common.Params)
      }
      val si = ctx.span("new SearchIndex", "query")(new SearchIndex(spark, indexDir))
      val li = ctx.span("LocalSearcher.load", "query")(LocalSearcher.load(si))
      val (blocks, warmS) = Common.timed(Common.warmUniverse(ctx, li, Files))
      (li, blocks, si, warmS)
    }
    r.e2e("setup_s", setupS, "s")
    r.figure("setup_s", setupS, "s", "build + open + load + warm-up, once per run")
    r.figure("serve.resident_block_mb", li.residentBlockBytes / 1e6, "MB",
      s"${li.residentDictTerms} dict terms, ${li.residentDocs} docs resident")

    val mix = new QueryMix(ctx.seed)
    QueryMix.describe(new QueryMix(ctx.seed).take(5000)).foreach(l => r.info(s"mix $l"))
    // the generator thread takes one core; the workers get the rest
    val loop = new OpenLoop(ctx, li, math.max(1, Common.Cores - 1))
    try {
      val s = ctx.seconds.toDouble
      // untimed: brings the serving path's code to its compiled steady
      // state. A closed loop runs the most queries per second and leaves
      // one core to the JIT compiler; a shorter warm-up left the first
      // measured round up to 40% slower than the later ones.
      loop.saturate(0.5 * s, mix)
      // the set-up's garbage is collected here, not inside a timed round
      System.gc()
      // light rate, loaded rate and closed loop in short rounds spread over
      // the window; every figure pools the samples of all rounds, so it
      // averages over the host's speed changes during the window
      val rounds = (1 to Rounds).map { _ =>
        val low = loop.run(LowRate, 0.03 * s, mix, abortOnBacklog = false)
        val high = loop.run(HighRate, 0.03 * s, mix, abortOnBacklog = false)
        val (qps, n, failed) = loop.saturate(0.06 * s, mix)
        (0 until n).foreach(i => r.op(i >= failed, "closed-loop query failed or differed"))
        r.info(f"round: light p50 ${low.p(0.5)}%.3f ms, loaded p50 ${high.p(0.5)}%.3f ms, " +
          f"closed loop $qps%.1f q/s")
        (low, high, qps, n)
      }
      val low = rounds.map(_._1).reduce(_ ++ _)
      val lowP50 = low.p(0.5)
      val high = rounds.map(_._2).reduce(_ ++ _)
      val satN = rounds.map(_._4).sum
      val saturated = satN / rounds.map(x => x._4 / x._3).sum
      // capacity: binary search on the fixed ladder for the highest rate
      // whose p99 meets the limit with no backlog left when sending stops
      val probes = (math.log(LadderSteps + 2.0) / math.log(2.0)).ceil.toInt
      val probeS = math.max(0.3, 0.25 * s / probes)
      var lo = -1
      var hi = LadderSteps + 1
      val ladder = scala.collection.mutable.ArrayBuffer[PhaseResult]()
      def meets(rate: Double): Boolean = {
        val p = loop.run(rate, probeS, mix, abortOnBacklog = true)
        ladder += p
        !p.overloaded && p.failed == 0 && p.p(0.99) <= P99LimitMs &&
          p.pendingAtEnd <= math.max(4, (0.02 * p.sent).toInt)
      }
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        val rate = LadderBase * math.pow(LadderStep, mid)
        // a failing step is tried once more after a pause: one stall (a GC
        // pause, a descheduled worker) must not end the search below capacity
        if (meets(rate) || { Thread.sleep(200); meets(rate) }) lo = mid else hi = mid
      }
      val maxQps = LadderBase * math.pow(LadderStep, lo)
      (Seq(low, high) ++ ladder).foreach(p => (0 until p.sent).foreach(i =>
        r.op(i >= p.failed, s"query at ${p.rate} q/s failed or differed from its first response")))

      r.e2e("throughput_per_s", saturated, "1/s")
      r.figure("serve.saturated_qps", saturated, "q/s",
        s"closed loop, ${Common.Cores - 1} workers, $Rounds rounds pooled, n=$satN")
      r.e2e("latency_p50_ms", lowP50, "ms")
      r.figure("serve.low.p50_ms", lowP50, "ms", s"$Rounds rounds pooled, n=${low.sent} at $LowRate q/s")
      r.figure("serve.low.p99_ms", low.p(0.99), "ms", s"n=${low.sent} at $LowRate q/s")
      r.figure("serve.high.p50_ms", high.p(0.5), "ms", s"n=${high.sent} at $HighRate q/s")
      r.figure("serve.high.p99_ms", high.p(0.99), "ms", s"n=${high.sent} at $HighRate q/s")
      r.figure("serve.max_qps", maxQps, "q/s",
        s"${ladder.size} ladder probes of ${"%.2f".format(probeS)} s, p99 limit $P99LimitMs ms")
      r.figure("query.serve.queue_wait_ms_p99", Stats.pct(high.queueWaitMs, 0.99), "ms",
        s"n=${high.sent} at $HighRate q/s")
      r.figure("serve.generator_lag_ms", Stats.pct(high.lagMs, 0.99), "ms",
        s"p99, n=${high.sent} at $HighRate q/s")
      ladder.foreach(p => r.info(f"ladder ${p.rate}%.1f q/s sent=${p.sent} p99=${p.p(0.99)}%.2f ms " +
        s"overloaded=${p.overloaded} pending=${p.pendingAtEnd}"))
    } finally loop.close()

    val (_, indexBytes) = Common.listing(indexDir)
    val content = (0L until Files).iterator.map(i =>
      file(ctx.seed, i).content.length.toLong).sum
    r.e2e("index_bytes_per_content_byte", indexBytes.toDouble / content, "ratio")
    r.figure("index_bytes_per_content_byte", indexBytes.toDouble / content, "ratio")

    // correctness: a seeded sample of distinct served queries against the
    // distributed engine's exhaustive search (wand = false)
    val served = loop.responses
    val rnd = new scala.util.Random(ctx.seed)
    val sample = rnd.shuffle(served.keys.toSeq.sortBy(q => (q.text, q.phrase))).take(CheckSample)
    val engineMs = sample.zipWithIndex.map { case (q, i) =>
      val local = served(q).map(h => (h.rank, h.docId, h.score, h.repo, h.path))
      val (exhaustive, secs) = Common.timed(ctx.span("QueryEngine.search", "query", i) {
        QueryEngine.search(si, q.text, Common.optsFor(q).copy(wand = false)).collect().toSeq
          .map(Common.row)
      })
      r.check(s"served == engine(wand=false): ${q.text}${if (q.phrase) " [phrase]" else ""}",
        local == exhaustive, Common.describeDiff(local, exhaustive))
      secs * 1e3
    }
    r.figure("query_p50_ms", Stats.median(engineMs), "ms",
      s"n=${engineMs.size} QueryEngine.search(wand = false)")

    if (ctx.traced) {
      Common.buildLayer(ctx)
      Common.indexShape(ctx, indexDir, content)
      Common.engineLayer(ctx)
      Common.residency(ctx, li, warmS)
      val contents = (0L until 2000L).map(i => file(ctx.seed, i).content).toArray
      Common.microProbes(ctx, contents, blocks)
      Common.serveReplay(ctx, li, new QueryMix(ctx.seed + 1).take(ReplayQueries),
        blocks.groupBy(_.term).view.mapValues(_.length).toMap)
    }
  }

  /** The file under docId `docId`. */
  def file(seed: Long, docId: Long): SourceFile = CorpusGen.rowSkewed(seed, docId * Stride)

  def corpus(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, Files, 1L, 8).map(id => (id, file(seed, id)))
      .select(col("_1").as("docId"), col("_2.*"))
  }
}
