package graftbench

import scala.collection.mutable

import graft.core.{CorpusGen, SourceFile}
import graft.index.{Compaction, Deletes, IndexBuilder, KeyMap, Upsert}
import graft.query.{LocalSearcher, SearchIndex}
import org.apache.spark.sql.DataFrame

/** `ingest`: a closed-loop recrawl by one client on a base index. Each
  * cycle upserts a batch of changed and new files, deletes a few keys,
  * compacts every [[CompactEvery]] cycles, then opens a fresh
  * `SearchIndex` and runs a sample of the query mix through the
  * distributed `QueryEngine`. Writes are small and incremental; reads are
  * cold, on a fragmented index with live deletes, so they go to the table
  * files every time.
  *
  * One run takes 80-120 s on a 4-core host, so this workload is run by
  * hand and is not in BENCHMARK.json; the `build` workload's traced run
  * runs one cycle of it ([[probe]]) so the ingest layers stay measured. */
object IngestWorkload {
  val BaseFiles = 10000L
  val ChangedPerCycle = 100
  val NewPerCycle = 50
  val DeletesPerCycle = 5
  /** Compaction merges to one segment, which also purges tombstoned rows. */
  val CompactEvery = 2
  val MaxSegments = 1
  val MinCycles = 2
  val MaxCycles = 6
  val FreshQueries = 4
  val KeyCols = Seq("repo", "path")

  /** Recrawl cycles against one index, with the benchmark's own model of
    * which rows are live. Base rows are `CorpusGen.row(seed, id)` with
    * docId = id for id < `baseFiles`. */
  private final class Recrawl(ctx: Ctx, indexDir: String, baseFiles: Long) {
    private val spark = ctx.spark
    import spark.implicits._
    private val r = ctx.report
    private val rnd = new java.util.SplittableRandom(ctx.seed)
    private val mix = new QueryMix(ctx.seed)

    val changedAt = mutable.LinkedHashMap[Long, Int]()
    val deleted = mutable.LinkedHashSet[Long]()
    var added = 0L
    def changedRow(id: Long, cycle: Int): SourceFile = {
      val base = CorpusGen.row(ctx.seed, id)
      val content = s"${base.content} recrawled in cycle $cycle"
      base.copy(content = content, sha256 = CorpusGen.sha256Hex(content))
    }
    def newRow(j: Long): SourceFile = CorpusGen.row(ctx.seed, baseFiles + j)
    def live: Long = baseFiles + added - deleted.size

    val visibleS, writerS, freshMs = mutable.ArrayBuffer[Double]()
    val upsertS, deleteS, compactS = mutable.ArrayBuffer[Double]()
    val batchDocs = mutable.ArrayBuffer[Long]()
    var batchBytes = 0L
    val keymapValid = mutable.ArrayBuffer[Boolean]()
    val upserts = mutable.ArrayBuffer[Upsert.Result]()
    val segmentsBefore, segmentsAfter = mutable.ArrayBuffer[Long]()
    var lastIndex: SearchIndex = _

    private def segments(): Long =
      spark.read.parquet(s"$indexDir/lineage").select("inputSnapshot").distinct().count()
    private def pickBaseId(ok: Long => Boolean): Long = {
      var id = rnd.nextLong(baseFiles)
      while (!ok(id)) id = rnd.nextLong(baseFiles)
      id
    }

    def cycle(c: Int, compact: Boolean): Unit = {
      val changed = Seq.fill(ChangedPerCycle)(pickBaseId(id => !deleted(id))).distinct
      val rows = changed.map(changedRow(_, c)) ++ (0 until NewPerCycle).map(j => newRow(added + j))
      val batch = rows.toDF()
      if (ctx.traced) keymapValid += KeyMap.validBuckets(spark, indexDir, KeyCols).nonEmpty

      val (res, uS) = Common.timed(ctx.span("Upsert.upsert", "index", c) {
        Upsert.upsert(spark, batch, indexDir, Common.Params.copy(inputSnapshot = s"cycle-$c"), KeyCols)
      })
      r.op(res.added == changed.size + NewPerCycle && res.tombstoned == changed.size &&
        res.unchangedSkipped == 0L, s"cycle $c upsert: $res for ${changed.size} changed + $NewPerCycle new")
      changed.foreach(changedAt(_) = c)
      added += NewPerCycle

      val victims = Seq.fill(DeletesPerCycle)(
        pickBaseId(id => !deleted(id) && !changedAt.contains(id))).distinct
      val (_, dS) = Common.timed(ctx.span("Deletes.deleteIds", "index", c) {
        Deletes.deleteIds(spark, indexDir, victims.toDF("docId"))
      })
      r.op(true)
      deleted ++= victims

      val cS =
        if (!compact) 0.0
        else {
          if (ctx.traced) segmentsBefore += segments()
          val s = Common.timed(ctx.span("Compaction.compactToBudget", "index", c) {
            Compaction.compactToBudget(spark, indexDir, MaxSegments)
          })._2
          r.op(true)
          if (ctx.traced) segmentsAfter += segments()
          compactS += s
          s
        }
      val (si, openS) = Common.timed(ctx.span("new SearchIndex", "query", c)(new SearchIndex(spark, indexDir)))
      lastIndex = si
      upsertS += uS
      deleteS += dS
      upserts += res
      writerS += uS + dS + cS
      visibleS += uS + dS + cS + openS
      batchDocs += rows.size
      batchBytes += rows.map(_.content.length.toLong).sum

      mix.take(FreshQueries).zipWithIndex.foreach { case (q, i) =>
        val (hits, s) = Common.timed(ctx.span("QueryEngine.search", "query", c * 100L + i) {
          Common.engineHits(si, q)
        })
        r.op(hits.map(_._1) == hits.indices.map(_ + 1), s"fresh query ${q.text}: ranks not dense")
        freshMs += s * 1e3
      }
    }

    /** The ingest-only per-layer figures (printed; not in BENCHMARK.json). */
    def layerFigures(): Unit = {
      val n = math.max(1, upsertS.size).toDouble
      val up = ctx.tracer.sparkTotalsUnder("Upsert.upsert")
      val del = ctx.tracer.sparkTotalsUnder("Deletes.deleteIds")
      val comp = ctx.tracer.sparkTotalsUnder("Compaction.compactToBudget")
      r.figure("index.upsert.wall_s", Stats.mean(upsertS.toSeq), "s", s"n=${upsertS.size}")
      r.figure("index.upsert.jobs", up.jobs / n, "count")
      r.figure("index.upsert.output_mb", up.outputMb / n, "MB")
      r.figure("index.upsert.write_amp", up.outputMb * 1e6 / batchBytes, "ratio",
        "bytes written / batch content bytes")
      r.figure("index.upsert.keymap_valid_frac",
        keymapValid.count(identity).toDouble / math.max(1, keymapValid.size), "ratio")
      r.figure("index.upsert.added", upserts.map(_.added).sum / n, "count")
      r.figure("index.upsert.tombstoned", upserts.map(_.tombstoned).sum / n, "count")
      r.figure("index.upsert.unchanged", upserts.map(_.unchangedSkipped).sum / n, "count")
      r.figure("index.delete.wall_s", Stats.mean(deleteS.toSeq), "s", s"n=${deleteS.size}")
      r.figure("index.delete.jobs", del.jobs / n, "count")
      val nc = math.max(1, compactS.size).toDouble
      r.figure("index.compact.wall_s", Stats.mean(compactS.toSeq), "s", s"n=${compactS.size}")
      r.figure("index.compact.rewrite_mb", comp.outputMb / nc, "MB")
      r.figure("index.compact.segments_before", Stats.mean(segmentsBefore.map(_.toDouble).toSeq), "count")
      r.figure("index.compact.segments_after", Stats.mean(segmentsAfter.map(_.toDouble).toSeq), "count")
      r.figure("ingest.fresh_query_p50_ms", Stats.median(freshMs.toSeq), "ms", s"n=${freshMs.size}")
      r.figure("ingest.visible_p50_s", Stats.median(visibleS.toSeq), "s", s"n=${visibleS.size}")
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.report
    val inputDir = ctx.dir("input")
    val indexDir = ctx.dir("index")

    val (_, setupS) = Common.timed {
      ctx.span("stage input", "io") {
        CorpusGen.generateDF(spark, BaseFiles, ctx.seed, partitions = 8)
          .write.mode("overwrite").parquet(inputDir)
      }
      ctx.span("IndexBuilder.build", "index") {
        IndexBuilder.build(spark, spark.read.parquet(inputDir), indexDir, Common.Params)
      }
    }
    r.e2e("setup_s", setupS, "s")
    r.figure("setup_s", setupS, "s", s"stage + build of $BaseFiles files, once per run")

    // cycles until the window has passed, ending on a compaction cycle so
    // the final index holds exact statistics for the check below
    val rc = new Recrawl(ctx, indexDir, BaseFiles)
    val t0 = System.nanoTime()
    var c = 0
    while (c < MinCycles || (c < MaxCycles &&
        ((System.nanoTime() - t0) / 1e9 < ctx.seconds || c % CompactEvery != 0))) {
      c += 1
      rc.cycle(c, compact = c % CompactEvery == 0)
      if (ctx.traced) r.figure(s"io.segments.cycle$c",
        spark.read.parquet(s"$indexDir/lineage").select("inputSnapshot").distinct().count().toDouble, "count")
    }

    val docsPerS = rc.batchDocs.sum / rc.writerS.sum
    val visible = Stats.median(rc.visibleS.toSeq)
    r.e2e("throughput_per_s", docsPerS, "1/s")
    r.e2e("latency_p50_ms", visible * 1e3, "ms")
    r.figure("ingest_docs_per_s", docsPerS, "docs/s",
      s"${rc.batchDocs.sum} docs over $c cycles, compactions included")
    r.figure("ingest_visible_p50_s", visible, "s", s"n=$c cycles")
    r.figure("fresh_query_p50_ms", Stats.median(rc.freshMs.toSeq), "ms", s"n=${rc.freshMs.size}")
    r.figure("fresh_query_p90_ms", Stats.pct(rc.freshMs.toSeq, 0.9), "ms", s"n=${rc.freshMs.size}")

    // correctness after the last cycle: the live count, and the reference
    // queries on the maintained index against a fresh build of the rows the
    // model says survive, under the docIds the maintained index gave them
    val si = rc.lastIndex
    val liveIds = Deletes.df(spark, indexDir).foldLeft(si.docs.select("repo", "path", "docId")) {
      (d, t) => d.join(t.select("docId"), Seq("docId"), "left_anti")
    }
    val liveCount = liveIds.count()
    r.check("live doc count", liveCount == rc.live,
      s"index=$liveCount expected=${rc.live} (base $BaseFiles + adds ${rc.added} - deletes ${rc.deleted.size})")
    val dropped = (rc.deleted ++ rc.changedAt.keys).toSeq
    val survivors: DataFrame = spark.read.parquet(inputDir)
      .join(dropped.toDF("docId"), Seq("docId"), "left_anti").drop("docId")
      .unionByName(rc.changedAt.toSeq.map { case (id, cy) => rc.changedRow(id, cy) }.toDF())
      .unionByName((0L until rc.added).map(rc.newRow).toDF())
    val withIds = survivors.join(liveIds, KeyCols)
    val (survivorCount, matched) = (survivors.count(), withIds.count())
    r.check("survivors match the live keys", matched == survivorCount && survivorCount == liveCount,
      s"survivors=$survivorCount matched=$matched live=$liveCount")
    val freshDir = ctx.dir("fresh")
    IndexBuilder.build(spark, withIds, freshDir, Common.Params)
    val maintained = LocalSearcher.load(si)
    val rebuilt = LocalSearcher.load(new SearchIndex(spark, freshDir))
    graft.Bench.ReferenceQueries.foreach { q =>
      val a = Common.localHits(maintained, Query(q, phrase = false), Common.Opts)
      val b = Common.localHits(rebuilt, Query(q, phrase = false), Common.Opts)
      r.check(s"maintained == fresh build: $q", a == b && a.nonEmpty, Common.describeDiff(a, b))
    }
    val liveContent = Common.contentBytes(survivors)
    val (_, indexBytes) = Common.listing(indexDir)
    r.e2e("index_bytes_per_content_byte", indexBytes.toDouble / liveContent, "ratio")
    r.figure("io.space_amp", indexBytes.toDouble / liveContent, "ratio", "after the last cycle")

    if (ctx.traced) {
      rc.layerFigures()
      Common.buildLayer(ctx)
      Common.indexShape(ctx, indexDir, liveContent)
      Common.engineLayer(ctx)
      val (blocks, warm) = Common.timed(Common.warmUniverse(ctx, maintained,
        BaseFiles + rc.upserts.map(_.added).sum))
      Common.residency(ctx, maintained, warm)
      val contents = spark.read.parquet(inputDir).select("content").limit(2000).collect().map(_.getString(0))
      Common.microProbes(ctx, contents, blocks)
      Common.serveReplay(ctx, maintained, graft.Bench.ReferenceQueries.map(Query(_, phrase = false)),
        blocks.groupBy(_.term).view.mapValues(_.length).toMap)
    }
  }

  /** One recrawl cycle (upsert, delete, compaction, fresh open and
    * queries) on an index of `baseFiles` generated rows, for traced runs of
    * other workloads: prints the ingest layers' figures. */
  def probe(ctx: Ctx, indexDir: String, baseFiles: Long): Unit = {
    val rc = new Recrawl(ctx, indexDir, baseFiles)
    rc.cycle(1, compact = true)
    rc.layerFigures()
  }
}
