package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.Analyzer
import graft.index.{BlockRow, Codec, IndexBuilder}
import graft.query.{LocalSearcher, QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val seconds: Int, val report: Report) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): String = work.resolve(name).toString
  def span[T](name: String, layer: String, request: Long = -1L)(f: => T): T =
    tracer.span(name, layer, request)(f)
}

object Common {
  /** Build parameters of the frozen graft.Bench protocol. */
  val Params: IndexBuilder.Params =
    IndexBuilder.Params(blockSize = 128, docGroupSize = 8192L, fields = Seq("content"))
  /** Reference search shape: top 10, overfetch 3, repo diversity, WAND. */
  val Opts: SearchOpts = SearchOpts(k = 10, overfetch = 3, diversity = true, wand = true)
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def optsFor(q: Query): SearchOpts =
    if (q.phrase) Opts.copy(phraseBoost = QueryMix.PhraseBoost) else Opts

  def session(work: Path, workload: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Data files under `dir` (checksum side files excluded): count, bytes. */
  def listing(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  def contentBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(octet_length(col("content"))), lit(0L))).collect()(0).getLong(0)

  /** The top-10 page as comparable tuples. */
  def engineHits(si: SearchIndex, q: Query): Seq[(Int, Long, Double, String, String)] =
    QueryEngine.search(si, q.text, optsFor(q)).collect().toSeq.map(row)
  def row(r: Row): (Int, Long, Double, String, String) =
    (r.getAs[Int]("rank"), r.getAs[Long]("docId"), r.getAs[Double]("score"),
      r.getAs[String]("repo"), r.getAs[String]("path"))
  def localHits(li: LocalSearcher.LocalIndex, q: Query,
      opts: SearchOpts): Seq[(Int, Long, Double, String, String)] =
    LocalSearcher.search(li, q.text, opts).map(h => (h.rank, h.docId, h.score, h.repo, h.path))

  def describeDiff(a: Seq[Any], b: Seq[Any]): String =
    a.zipAll(b, "-", "-").zipWithIndex.collectFirst {
      case ((x, y), i) if x != y => s"first difference at rank ${i + 1}: $x vs $y"
    }.getOrElse("equal")

  /** Index-level figures every workload reports in its traced run: the
    * `metrics` table, a listing of the index directory, and its segments. */
  def indexShape(ctx: Ctx, dir: String, liveContentBytes: Long): Unit = {
    val r = ctx.report
    val met = ctx.span("read metrics table", "io") {
      ctx.spark.read.parquet(s"$dir/metrics").agg(sum("postingsEmitted"), sum("blocks"),
        sum("bytesCompressed")).collect()(0)
    }
    r.layer("index.postings_emitted", met.getLong(0).toDouble, "count")
    r.layer("index.blocks", met.getLong(1).toDouble, "count")
    r.layer("index.bytes_compressed_mb", met.getLong(2) / 1e6, "MB")
    val (files, bytes) = ctx.span("list index dir", "io")(listing(dir))
    r.layer("io.index_files", files.toDouble, "count")
    r.layer("io.index_mb", bytes / 1e6, "MB")
    r.layer("io.space_amp", bytes.toDouble / liveContentBytes, "ratio")
    val segments = ctx.span("read lineage", "io") {
      ctx.spark.read.parquet(s"$dir/lineage").select("inputSnapshot").distinct().count()
    }
    r.layer("io.segments", segments.toDouble, "count")
  }

  /** Spark totals of the `IndexBuilder.build` spans, per build. */
  def buildLayer(ctx: Ctx): Unit = {
    val spans = ctx.tracer.allSpans.filter(_.name == "IndexBuilder.build")
    val n = math.max(1, spans.size)
    val wall = spans.map(s => (s.end - s.start) / 1e9).sum
    val t = ctx.tracer.sparkTotalsUnder("IndexBuilder.build")
    val r = ctx.report
    r.layer("index.build.wall_s", wall / n, "s")
    r.layer("index.build.jobs", t.jobs.toDouble / n, "count")
    r.layer("index.build.tasks", t.tasks.toDouble / n, "count")
    r.layer("index.build.shuffle_stages", t.shuffleStages.toDouble / n, "count")
    r.layer("index.build.task_cpu_s", t.cpuS / n, "s")
    r.layer("index.build.busy_frac", if (wall > 0) t.runS / (wall * Cores) else 0.0, "ratio")
    r.layer("index.build.gc_s", t.gcS / n, "s")
    r.layer("index.build.shuffle_write_mb", t.shuffleWriteMb / n, "MB")
    r.layer("index.build.spill_mb", t.spillMb / n, "MB")
    r.layer("index.build.output_mb", t.outputMb / n, "MB")
  }

  /** Spark totals of the `QueryEngine.search` spans and the index opens. */
  def engineLayer(ctx: Ctx): Unit = {
    val all = ctx.tracer.allSpans
    def meanS(name: String) = Stats.mean(all.filter(_.name == name).map(s => (s.end - s.start) / 1e9))
    val n = math.max(1, all.count(_.name == "QueryEngine.search"))
    val t = ctx.tracer.sparkTotalsUnder("QueryEngine.search")
    val r = ctx.report
    r.layer("query.engine.open_s", meanS("new SearchIndex"), "s")
    r.layer("query.engine.search_ms", meanS("QueryEngine.search") * 1e3, "ms")
    r.layer("query.engine.jobs_per_query", t.jobs.toDouble / n, "count")
    r.layer("query.engine.tasks_per_query", t.tasks.toDouble / n, "count")
    r.layer("query.engine.scan_mb_per_query", t.inputMb / n, "MB")
  }

  /** Single-thread micro-probes of the core and codec layers, over a fixed
    * sample of the workload's own input and index blocks. Median of 5
    * passes after one warm pass. */
  def microProbes(ctx: Ctx, contents: Array[String], blocks: Array[BlockRow]): Unit = {
    val r = ctx.report
    val contentMb = contents.iterator.map(_.length.toLong).sum / 1e6
    def passes(f: => Unit): Double = { f; Stats.median((1 to 5).map(_ => timed(f)._2)) }
    var sink = 0L
    val tok = ctx.span("Analyzer.tokenize", "core") {
      passes(contents.foreach(c => sink += Analyzer.tokenize(c).length))
    }
    r.layer("core.tokenize_mb_per_s", contentMb / tok, "MB/s")
    val nBlocks = math.max(1, blocks.length)
    val dec = ctx.span("Codec.decodeBlockColumnar", "index") {
      passes(blocks.foreach(b => sink += Codec.decodeBlockColumnar(b.firstDocId, b.bytes, false).n))
    }
    r.layer("index.codec.decode_ns_per_block", dec * 1e9 / nBlocks, "ns")
    val decPos = ctx.span("Codec.decodeBlockColumnar(positions)", "index") {
      passes(blocks.foreach(b => sink += Codec.decodeBlockColumnar(b.firstDocId, b.bytes, true).n))
    }
    r.layer("index.codec.decode_pos_ns_per_block", decPos * 1e9 / nBlocks, "ns")
    val sample = blocks.take(4000).map(b => (b.firstDocId, Codec.decodeBlock(b.firstDocId, b.bytes).toSeq))
    val postings = math.max(1L, sample.iterator.map(_._2.size.toLong).sum)
    val enc = ctx.span("Codec.encodeBlock", "index") {
      passes(sample.foreach { case (f, ps) => sink += Codec.encodeBlock(f, ps).length })
    }
    r.layer("index.codec.encode_ns_per_posting", enc * 1e9 / postings, "ns")
    // a use of every probed result, so the JIT cannot drop the work
    if (sink == 42L) println("")
  }

  /** Serial warm replay of `queries` on a loaded serving image: times each
    * search and, separately, the three cache calls it makes; counts the
    * blocks it decodes and docs it scores against the work the query's
    * posting lists hold. */
  def serveReplay(ctx: Ctx, li: LocalSearcher.LocalIndex, queries: Seq[Query],
      blocksPerTerm: Map[String, Int]): Unit = {
    val fields = Opts.fields.map(_._1)
    queries.foreach(q => LocalSearcher.search(li, q.text, optsFor(q)))
    val rows = queries.zipWithIndex.map { case (q, i) =>
      val opts = optsFor(q)
      val d0 = li.decodeCount.get
      val s0 = li.scoredCount.get
      val (_, searchS) = timed(ctx.span("LocalSearcher.search", "query", i)(LocalSearcher.search(li, q.text, opts)))
      val decoded = li.decodeCount.get - d0
      val scored = li.scoredCount.get - s0
      val terms = Analyzer.distinctQueryTerms(q.text).sorted.toSeq
      val (dfs, dfsS) = timed(ctx.span("LocalIndex.dfs", "query", i)(li.dfs(fields, terms)))
      val (_, blocksS) = timed(ctx.span("LocalIndex.blocksOf", "query", i)(li.blocksOf(dfs.keys.toSeq)))
      // the candidate ids the search looked up: its top k * overfetch
      val ids = LocalSearcher.search(li, q.text,
        opts.copy(k = opts.k * opts.overfetch, overfetch = 1)).map(_.docId)
      val (_, docsS) = timed(ctx.span("LocalIndex.docsOf", "query", i)(li.docsOf(ids)))
      val postings = dfs.values.sum.toDouble
      val blocks = dfs.keys.toSeq.map(k => blocksPerTerm.getOrElse(k._2, 0)).sum.toDouble
      (searchS, dfsS, blocksS, docsS, decoded.toDouble, scored.toDouble, postings, blocks)
    }
    val r = ctx.report
    def m(f: ((Double, Double, Double, Double, Double, Double, Double, Double)) => Double) =
      Stats.mean(rows.map(f))
    val searchUs = m(_._1) * 1e6
    r.layer("query.serve.search_us", searchUs, "us")
    r.layer("query.serve.dfs_us", m(_._2) * 1e6, "us")
    r.layer("query.serve.blocks_of_us", m(_._3) * 1e6, "us")
    r.layer("query.serve.docs_of_us", m(_._4) * 1e6, "us")
    r.layer("query.serve.score_self_us", searchUs - (m(_._2) + m(_._3) + m(_._4)) * 1e6, "us")
    val decoded = m(_._5)
    r.layer("query.serve.blocks_decoded_per_query", decoded, "count")
    r.layer("query.serve.docs_scored_per_query", m(_._6), "count")
    r.layer("query.serve.postings_total_per_query", m(_._7), "count")
    r.layer("query.serve.wand_block_skip_ratio",
      if (m(_._8) > 0) 1.0 - decoded / m(_._8) else 0.0, "ratio")
    r.layer("query.serve.wand_doc_skip_ratio",
      if (m(_._7) > 0) 1.0 - m(_._6) / m(_._7) else 0.0, "ratio")
    r.perLayer.get("index.codec.decode_ns_per_block").foreach { case (ns, _) =>
      r.layer("query.serve.decode_share", decoded * ns / 1e3 / searchUs, "ratio")
    }
  }

  /** Fetches every term of the mix's universe into a serving image and
    * returns its blocks; the fetch is the serving warm-up. */
  def warmUniverse(ctx: Ctx, li: LocalSearcher.LocalIndex, nDocs: Long): Array[BlockRow] = {
    val fields = Opts.fields.map(_._1)
    val keys = QueryMix.universe.map(t => ("content", t))
    ctx.span("LocalIndex.dfs(universe)", "query") {
      QueryMix.universe.grouped(2600).foreach(g => li.dfs(fields, g))
    }
    val blocks = ctx.span("LocalIndex.blocksOf(universe)", "query") {
      keys.grouped(2600).flatMap(g => li.blocksOf(g).valuesIterator.flatten).toArray
    }
    ctx.span("LocalIndex.docsOf(all)", "query") {
      (0L until nDocs).grouped(50000).foreach(g => li.docsOf(g))
    }
    blocks
  }

  def residency(ctx: Ctx, li: LocalSearcher.LocalIndex, warmS: Double): Unit = {
    val r = ctx.report
    r.layer("query.serve.resident_block_mb", li.residentBlockBytes / 1e6, "MB")
    r.layer("query.serve.resident_dict_terms", li.residentDictTerms.toDouble, "count")
    r.layer("query.serve.resident_docs", li.residentDocs.toDouble, "count")
    r.layer("query.serve.warm_fetch_s", warmS, "s")
  }

  /** Run-wide per-layer figures of a traced run: Spark-wide counters and
    * self time per layer, over every span and job recorded so far. */
  def runTotals(ctx: Ctx): Unit = {
    val r = ctx.report
    val all = ctx.tracer.sparkTotalsAll
    r.layer("spark.jobs", all.jobs.toDouble, "count")
    r.layer("spark.failed_tasks", all.failedTasks.toDouble, "count")
    val self = ctx.tracer.selfTimeByLayer()
    Seq("bench", "core", "index", "io", "query", "spark").foreach { l =>
      r.layer(s"self.$l.s", self.getOrElse(l, 0.0), "s")
    }
  }
}
