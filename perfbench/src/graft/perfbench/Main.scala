package graft.perfbench

import graft.SparkEntry
import graft.analysis.CodeAnalyzer
import graft.build._
import graft.codec.PostingCodec
import graft.driverapi.Corpus
import graft.exec.{Searcher, SegmentKernel}
import graft.model.{PostingList, SourceRow}
import graft.query.QueryParser
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark driver. One JVM runs one workload: warm-up, then the serving
  * index set-up, the serve, build and update phases, and (traced runs
  * only) single-thread layer probes. Inputs come from the generator's
  * files in the work directory; the result goes to `result.json` there.
  *
  * Usage: graft.perfbench.Main <workDir>   (parameters in params.properties)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val p = Params.load(work.resolve("params.properties"))
    val spark = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try Files.writeString(work.resolve("result.json"), new Bench(spark, p, work).run())
    finally spark.stop()
  }
}

final case class Params(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, docs: Long, segments: Int, mergeTier: Int, k: Int, rounds: Int,
    segsPerBatch: Int, burst: Int)

object Params {
  def load(path: Path): Params = {
    val pr = new java.util.Properties()
    val in = Files.newInputStream(path)
    try pr.load(in) finally in.close()
    def s(k: String): String = Option(pr.getProperty(k)).getOrElse(sys.error(s"missing param $k"))
    def i(k: String): Int = s(k).toInt
    Params(s("workload"), s("seed").toLong, s("seconds").toDouble, s("trace") == "1",
      i("cores"), s("docs").toLong, i("segments"), i("merge_tier"), i("k"), i("rounds"),
      i("segs_per_batch"), i("burst"))
  }
}

final case class Q(kind: String, cold: Boolean, text: String)

object Bench {
  /** End-to-end metrics; each workload measures every one on its own path. */
  val EndToEnd: Seq[String] = Seq("setup_s", "write_docs_per_s", "refresh_ms",
    "query_p50_ms", "index_bytes_per_doc")

  // how much each phase measures
  val MinSamples = 30 // serve loop queries, at least, whatever --seconds says
  val TraceMinSamples = 60 // traced serve loop: twelve samples beyond p80
  /** Untimed serve set-ups: one of the warm-up documents, with one query of
    * each template, then one of the source table, whose first build in a
    * JVM still runs about twice as long as the next ones.
    */
  val ServeWarmups = 2
  val ServeSetupReps = 3
  val UpdateSetupReps = 2
  val BatchQueries = 60 // stream queries through one topKBatch
  val BatchReps = 3
  val RankChecks = 2
  val ProbeDocs = 800 // source rows of the single-thread probes
  val PlanProbes = 12
  val KernelProbes = 8
  /** Fulltext entries of the driver catalog the traced run times; each
    * runs on the std index of the catalog's documents table.
    */
  val CatalogEntries: Seq[String] = Seq("ft_term_topk", "ft_and_topk", "ft_or_topk",
    "ft_fuzzy_topk", "ft_batch_topk", "ft_not_count", "ft_phrase_docs", "ft_prefix_terms")
}

final class Bench(spark: SparkSession, p: Params, work: Path) {
  import Bench._
  import spark.implicits._
  private val sc = spark.sparkContext
  private val tracer = new Tracer(p.trace)
  private val witness: Option[Witness] =
    if (p.trace) { val w = new Witness; sc.addSparkListener(w); Some(w) } else None

  private var attempted = 0L
  private var failed = 0L
  private var nextCall = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private val secs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def at(name: String): String = work.resolve(name).toString
  private val src = at("source.parquet")
  /** The warm-up documents, which the warm-up queries come from. */
  private val warmSrc = at("warm.parquet")

  private def readQueries(name: String): IndexedSeq[Q] =
    Files.readAllLines(work.resolve(name)).asScala.toIndexedSeq.map { l =>
      val Array(kind, cold, text) = l.split("\t", 3)
      Q(kind, cold == "1", text)
    }
  private val queries = readQueries("queries.tsv")

  /** One timed call into the engine: Some((result, seconds)), or None when
    * it threw. A failed call is counted and never becomes a sample.
    */
  private def call[A](label: String, request: String = "")(body: => A): Option[(A, Double)] = {
    attempted += 1
    val id = nextCall
    nextCall += 1
    sc.setJobGroup(s"pb:$id", label)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(label, request)(body)
      val s = (System.nanoTime() - t0) / 1e9
      secs.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += s
      Some((r, s))
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$label: $e"
        None
    } finally {
      witness.foreach(_.record(id, label, w0, System.currentTimeMillis()))
      sc.clearJobGroup()
    }
  }

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch {
      case NonFatal(e) => errors += s"check $name: $e"; false
    }
    checks(name) = checks.getOrElse(name, true) && ok
  }

  private def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Nearest-rank percentile. */
  private def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  private def hits(rows: Array[Row]): Seq[(Long, Float)] =
    rows.toSeq.map(r => (r.getLong(0), r.getFloat(1)))

  /** Drops every cached dataset, waits until its blocks are gone and
    * collects garbage, so each timed set-up starts from the same state.
    */
  private def quiesce(): Unit = {
    spark.catalog.clearCache()
    while (sc.getRDDStorageInfo.nonEmpty) Thread.sleep(10)
    System.gc()
  }

  private def inMemory(path: String): Index = {
    val i = IndexBuilder.buildInMemory(spark, SourceReader.readDocs(spark, path, p.segments))
    i.postings.persist().count()
    i.termStats.persist().count()
    i
  }

  private def copyInto(dir: Path, file: String): Unit = {
    Files.createDirectories(dir)
    Files.copy(work.resolve(file), dir.resolve(Paths.get(file).getFileName),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Visible files under `dir` with their sizes and modification times. */
  private def tree(dir: String): Map[String, (Long, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap finally s.close()
  }

  private def segmentBytes(dir: String): Long =
    tree(s"$dir/segments").collect {
      case (f, (n, _)) if f.endsWith(".parquet") => n
    }.sum

  // ---------------------------------------------------------------- phases

  /** Measured values by phase-qualified name, e.g. `serve.setup_s`. */
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
  private def samples(label: String): Seq[Double] = secs.getOrElse(label, Nil).toSeq

  /** Runs the fixed first query of `idx` right after a write and returns
    * milliseconds from `since` (the end of that write) to its answer.
    */
  private def firstAnswer(label: String, idx: Index, since: Long): Option[Double] =
    call(label)(Searcher.topK(idx, warmQueries.head.text, p.k).collect())
      .map(_ => (System.nanoTime() - since) / 1e6)
  private lazy val warmQueries = readQueries("warm_queries.tsv")

  /** Serve: the read path on an in-memory, segment-aligned index. Set-up
    * builds it `ServeSetupReps` times after `ServeWarmups` untimed builds,
    * so JIT and code generation are done before timing starts; then one
    * client runs a closed loop over the query stream for the run's
    * seconds, and the first `BatchQueries` queries of the stream go
    * through `topKBatch` (checked against `topK`, timed when traced).
    */
  private def serveRead(minSamples: Int): Unit = {
    val n = p.docs
    var idx: Index = null
    val refresh = mutable.ArrayBuffer.empty[Double]
    // the first ServeWarmups repetitions warm the JVM (JIT, code
    // generation) and are not samples
    (0 until ServeWarmups + ServeSetupReps).foreach { r =>
      val stage = if (r < ServeWarmups) "serve.warmup" else "serve"
      quiesce()
      call(s"$stage.setup")(inMemory(if (r == 0) warmSrc else src)).foreach { case (i, _) =>
        idx = i
        val first = firstAnswer(s"$stage.first_query", i, System.nanoTime())
        if (r >= ServeWarmups) refresh ++= first
      }
      if (r == 0 && idx != null) phase("serve.warmup") {
        warmQueries.foreach(q => Searcher.topK(idx, q.text, p.k).collect())
        Searcher.topKBatch(idx, warmQueries.zipWithIndex.map { case (q, i) =>
          (i.toString, QueryParser.parse(q.text)) }, p.k).collect()
        Searcher.scoredMatches(idx, QueryParser.parse(warmQueries.head.text))
          .orderBy(desc("score"), asc("docId")).limit(p.k).collect()
      }
    }
    require(idx != null, "no serving index could be built")
    put("serve.setup_s", median(samples("serve.setup")), "s")
    put("serve.write_docs_per_s", n / median(samples("serve.setup")), "docs/s")
    put("serve.refresh_ms", median(refresh.toSeq), "ms")
    val cached = sc.getRDDStorageInfo.map(_.memSize).sum
    put("serve.index_bytes_per_doc", cached.toDouble / n, "B/doc")
    put("serve.cached_index_mb", cached / 1e6, "MB")

    val answered = mutable.ArrayBuffer.empty[(Int, Seq[(Long, Float)])]
    val lat = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (p.seconds * 1e9).toLong
    var i = 0
    while (i < queries.length && (System.nanoTime() < deadline || lat.size < minSamples)) {
      call("serve.topk", i.toString)(Searcher.topK(idx, queries(i).text, p.k).collect())
        .foreach { case (rows, s) => lat += s * 1e3; answered += (i -> hits(rows)) }
      i += 1
    }
    check("serve.enough_samples")(lat.size >= minSamples)
    // the loop's traffic as it ran: per shape and for first-seen queries,
    // the share of samples and their median
    val sampled = answered.map(_._1).zip(lat).map { case (qi, ms) => (queries(qi), ms) }
    def mix(name: String, xs: Seq[Double]): Unit = if (xs.nonEmpty)
      shapes += ((name, xs.size.toDouble / sampled.size, median(xs)))
    sampled.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (k, xs) => mix(k, xs.map(_._2).toSeq) }
    mix("first_seen", sampled.filter(_._1.cold).map(_._2).toSeq)
    mix("repeated", sampled.filterNot(_._1.cold).map(_._2).toSeq)
    put("serve.query_p50_ms", median(lat.toSeq), "ms")
    if (lat.size >= 50) put("serve.query_p80_ms", pct(lat.toSeq, 0.8), "ms")

    val batch = queries.take(BatchQueries).zipWithIndex.map { case (q, qi) =>
      (qi.toString, QueryParser.parse(q.text)) }
    // one batch feeds the equality check; traced runs time BatchReps of them
    var batchRows: Array[Row] = null
    (1 to (if (p.trace) BatchReps else 1)).foreach { _ =>
      call("serve.batch")(Searcher.topKBatch(idx, batch.toSeq, p.k).collect())
        .foreach(r => batchRows = r._1)
    }
    put("serve.batch_qps", batch.size / median(samples("serve.batch")), "1/s")

    check("serve.topk_equals_batch") {
      val byQ = batchRows.toSeq.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getFloat(2)))
      }
      answered.filter(_._1 < BatchQueries).forall { case (qi, h) =>
        byQ.getOrElse(qi.toString, Nil) == h }
    }
    val rng = new scala.util.Random(p.seed)
    rng.shuffle(answered.toSeq).take(RankChecks).foreach { case (qi, h) =>
      check("serve.rank_identity") {
        hits(Searcher.scoredMatches(idx, QueryParser.parse(queries(qi).text))
          .orderBy(desc("score"), asc("docId")).limit(p.k).collect()) == h
      }
    }
    servedIndex = idx
    servedAnswers = answered.toSeq
  }
  /** Serve-loop traffic: (shape or first_seen/repeated, share, p50 ms). */
  private val shapes = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private var servedIndex: Index = null
  private var servedAnswers: Seq[(Int, Seq[(Long, Float)])] = Nil

  /** Update: the write path on a persistent index. Set-up bulk-builds into
    * fresh directories, each until its first answered query: a warm-up
    * build of the warm-up documents (which also runs a resume), then
    * `UpdateSetupReps` timed ones of the source table, the last followed by
    * the checked resume no-op.
    * Then rounds of streaming ingest re-version existing keys (tombstones
    * plus small segments), each followed by a reopen and a query burst on
    * the reopened (unaligned parquet) index. Traced runs end with the
    * burst queries through `topKBatch` on the last reopened index and a
    * tiered merge.
    */
  private def updateWrite(): Unit = {
    val n = p.docs
    var dir: String = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    // repetition 0 warms the JVM and is not a sample
    (0 to UpdateSetupReps).foreach { r =>
      val stage = if (r == 0) "update.warmup" else "update"
      System.gc()
      dir = at(s"idx_$r")
      def docs = SourceReader.readDocs(spark, if (r == 0) warmSrc else src, p.segments)
      val t0 = System.nanoTime()
      val built = call(s"$stage.build")(IndexBuilder.buildPersistent(spark, docs, dir))
      if (r > 0) built.foreach { case (ms, _) => check("build.manifest_docs")(ms.map(_.docs).sum == n) }
      val done = System.nanoTime()
      call(s"$stage.open")(IndexBuilder.open(spark, dir)).foreach { case (ix, _) =>
        firstAnswer(s"$stage.first_query", ix, done).foreach { _ =>
          if (r > 0) setupS += (System.nanoTime() - t0) / 1e9
        }
      }
      if (r == 0) call("update.warmup.resume")(IndexBuilder.buildPersistent(spark, docs, dir))
      if (r == UpdateSetupReps) {
        put("update.index_bytes_per_doc", segmentBytes(dir).toDouble / n, "B/doc")
        val before = tree(dir)
        call("update.resume")(IndexBuilder.buildPersistent(spark, docs, dir))
        check("build.resume_writes_nothing")(tree(dir) == before)
      }
    }
    put("update.setup_s", median(setupS.toSeq), "s")
    put("build.docs_per_s", n / median(samples("update.build")), "docs/s")

    val base = IndexBuilder.open(spark, dir)
    check("build.docmeta_count")(base.docmeta.count() == n)
    check("build.content_sha256") {
      base.docmeta.join(spark.read.parquet(at("source_sha.parquet")),
          Seq("repo", "path", "commit"), "full_outer")
        .filter($"sha256".isNull || $"sha".isNull || $"sha256" =!= $"sha").count() == 0
    }
    check("build.checkindex")(CheckIndex.run(base).isEmpty)

    val truth = mutable.HashMap.empty[(String, String), String]
    def learn(path: String): Unit =
      spark.read.parquet(path).select("repo", "path", "commit")
        .as[(String, String, String)].collect()
        .foreach { case (r, pa, c) => truth((r, pa)) = c }
    learn(src)
    def checkLive(ix: Index, hitIds: Seq[Long]): Unit = {
      val live = ix.docmeta.select("docId", "repo", "path", "commit")
        .as[(Long, String, String, String)].collect()
      check("update.live_count")(live.length == truth.size)
      check("update.live_versions")(live.forall { case (_, r, pa, c) => truth.get((r, pa)).contains(c) })
      val liveIds = live.map(_._1).toSet
      check("update.no_tombstoned_hits")(hitIds.forall(liveIds.contains))
    }
    val in = work.resolve("stream_in")
    val ingest = mutable.ArrayBuffer.empty[Double]
    val refresh = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val tombstones = mutable.ArrayBuffer.empty[Double]
    def tombstoneRows(): Long =
      if (!Files.exists(Paths.get(s"$dir/tombstones"))) 0L
      else spark.read.parquet(s"$dir/tombstones").count()
    // bursts walk the first-seen queries, whose shapes rotate in a fixed
    // order, so every run's burst mix is the same (a reopened index starts
    // with cold term stats anyway)
    val firstSeen = queries.filter(_.cold)
    var next = 0
    var lastOpened: Option[Index] = None
    val burstQs = mutable.ArrayBuffer.empty[Int]
    (0 until p.rounds).foreach { r =>
      val file = f"updates/round_$r%02d.parquet"
      val batchDocs = spark.read.parquet(at(file)).count()
      val tomb0 = if (p.trace) tombstoneRows() else 0L
      copyInto(in, file)
      call("update.ingest")(StreamingIndexer.runAvailableNow(
          spark, in.toString, dir, p.segsPerBatch, update = true))
        .foreach { case (_, s) => ingest += batchDocs / s }
      val ingested = System.nanoTime()
      val seen = mutable.ArrayBuffer.empty[Long]
      val reopened = call("update.reopen")(IndexBuilder.open(spark, dir)).map(_._1)
      reopened.foreach { ix =>
        lastOpened = Some(ix)
        refresh ++= firstAnswer("update.first_query", ix, ingested)
        (0 until p.burst).foreach { _ =>
          burstQs += next
          call("update.topk", next.toString)(Searcher.topK(ix, firstSeen(next).text, p.k).collect())
            .foreach { case (rows, s) => lat += s * 1e3; seen ++= rows.map(_.getLong(0)) }
          next += 1
        }
      }
      // bookkeeping after the timed reopen and burst
      if (p.trace) tombstones += (tombstoneRows() - tomb0).toDouble
      learn(at(file))
      reopened.foreach(checkLive(_, seen.toSeq))
    }
    put("update.write_docs_per_s", median(ingest.toSeq), "docs/s")
    put("update.refresh_ms", median(refresh.toSeq), "ms")
    put("update.query_p50_ms", median(lat.toSeq), "ms")

    // batch throughput and compaction are timed in traced runs only: one
    // tiered merge of the bulk segments plus the rounds' small ones costs
    // as much as the rounds
    if (p.trace) {
      val batch = burstQs.map(qi => (qi.toString, QueryParser.parse(firstSeen(qi).text))).toSeq
      lastOpened.foreach { ix =>
        (1 to BatchReps).foreach { _ =>
          call("update.batch")(Searcher.topKBatch(ix, batch, p.k).collect())
        }
      }
      put("update.batch_qps", batch.size / median(samples("update.batch")), "1/s")
      call("update.merge")(IndexMerger.tieredMerge(spark, dir, p.mergeTier)).foreach {
        case (ms, s) => put("build.merge_docs_per_s", ms.map(_.docs).sum / s, "docs/s")
      }
      checkLive(IndexBuilder.open(spark, dir), Nil)
    }
    if (p.trace) {
      put("streaming.batch_s", median(samples("update.ingest")), "s")
      put("streaming.tombstones_per_round", median(tombstones.toSeq), "count")
      put("streaming.segments_live", IndexFs.listNames(s"$dir/manifest")
        .count(f => f.startsWith("seg_") && f.endsWith(".json")).toDouble, "count")
      put("build.open_ms", median(samples("update.reopen")) * 1e3, "ms")
      put("build.resume_s", median(samples("update.resume")), "s")
      put("build.merge_s", median(samples("update.merge")), "s")
    }
  }

  // ---------------------------------------------------------------- probes

  /** Median seconds of `reps` runs of `body`. */
  private def timeMedian(reps: Int)(body: => Unit): Double =
    median((1 to reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })

  /** Traced runs only: single-thread layer probes on a sample of the
    * source table, driver-side kernel replays, cold/warm planning, and
    * the per-call Spark work the witness attributed.
    */
  private def probes(idx: Index, answered: Seq[(Int, Seq[(Long, Float)])]): Unit = {
    val sample = tracer.span("probe.sample")(spark.read.parquet(src).limit(ProbeDocs)
      .as[SourceRow].collect())
    val docs = sample.map(r => InputDoc(0, s"${r.repo}/${r.path}@${r.commit}", r.repo, r.path,
      r.commit, r.lang, r.content))

    var tokens = 0L
    val tTok = tracer.span("probe.analysis.tokenize")(timeMedian(3) {
      var c = 0L
      docs.foreach { d =>
        c += CodeAnalyzer.foreachToken(d.content)((_, _) => ())
        c += CodeAnalyzer.foreachToken(d.path)((_, _) => ())
      }
      tokens = c
    })
    put("analysis.tokenize_ns_per_token", tTok * 1e9 / tokens, "ns/token")
    put("analysis.tokens_per_doc", tokens.toDouble / docs.length, "count")

    var rows: Array[BuildRow] = null
    val tInv = tracer.span("probe.build.invert")(timeMedian(3) {
      rows = IndexBuilder.buildSegment(0, docs.iterator).toArray
    })
    val posts = rows.filter(_.kind == "p").map(r => PostingList(r.seg, r.term, r.df, r.ttf,
      r.counts, r.baseDocIds, r.maxDocIds, r.maxFreqs, r.minNorms, r.offsets, r.payload))
    val postings = posts.map(_.df.toLong).sum
    val tDec = tracer.span("probe.codec.decode")(timeMedian(3) {
      posts.foreach(pl => PostingCodec.decodeAll(pl))
    })
    val decoded = posts.map(pl =>
      pl -> PostingCodec.decodeAll(pl, withPositions = IndexBuilder.hasPositions(pl.term)))
    val tEnc = tracer.span("probe.codec.encode")(timeMedian(3) {
      decoded.foreach { case (pl, d) =>
        if (d.positions == null)
          PostingCodec.encode(pl.seg, pl.term, d.docIds, d.freqs, d.norms, positions = null)
        else {
          val off = new Array[Int](d.docIds.length)
          var n = 0
          var i = 0
          while (i < d.positions.length) { off(i) = n; n += d.positions(i).length; i += 1 }
          val flat = new Array[Int](n)
          i = 0
          while (i < d.positions.length) {
            System.arraycopy(d.positions(i), 0, flat, off(i), d.positions(i).length); i += 1
          }
          PostingCodec.encodeFlat(pl.seg, pl.term, d.docIds, d.freqs, d.norms,
            d.docIds.length, flat, off, n)
        }
      }
    })
    val tSha = tracer.span("probe.build.sha256")(timeMedian(3) {
      docs.foreach(d => IndexBuilder.sha256Hex(d.content))
    })
    val inv1t = docs.length / tInv
    put("build.invert_docs_per_s_1t", inv1t, "docs/s")
    put("build.invert_self_ns_per_token", (tInv - tTok - tEnc - tSha) * 1e9 / tokens, "ns/token")
    put("build.pipeline_efficiency", m("build.docs_per_s")._1 / (p.cores * inv1t), "ratio")
    put("codec.encode_ns_per_posting", tEnc * 1e9 / postings, "ns/posting")
    put("codec.decode_ns_per_posting", tDec * 1e9 / postings, "ns/posting")
    put("codec.bytes_per_posting", posts.map(_.payload.length.toLong).sum.toDouble / postings, "B/posting")

    val tParse = tracer.span("probe.query.parse")(timeMedian(3) {
      queries.foreach(q => QueryParser.parse(q.text))
    })
    put("query.parse_us", tParse * 1e6 / queries.length, "us")
    // a fresh Index over the same cached data starts with empty stats caches
    val fresh = new Index(idx.postings, idx.docmeta, idx.termStats, idx.fieldStats, idx.live,
      () => true)
    val planQs = queries.filter(_.cold).take(PlanProbes)
    planQs.foreach(q => call("probe.plan_cold")(Searcher.plan(fresh, QueryParser.parse(q.text), false)))
    planQs.foreach(q => call("probe.plan_warm")(Searcher.plan(fresh, QueryParser.parse(q.text), false)))
    put("query.plan_ms_cold", median(secs("probe.plan_cold").toSeq) * 1e3, "ms")
    put("query.plan_ms_warm", median(secs("probe.plan_warm").toSeq) * 1e3, "ms")

    // driver-side replay of the per-segment kernels of sampled queries
    val kernelMs = mutable.ArrayBuffer.empty[Double]
    var rowsScanned = 0L
    var segsTouched = 0L
    val rng = new scala.util.Random(p.seed + 1)
    val replays = rng.shuffle(answered).flatMap { case (qi, h) =>
      Searcher.plan(idx, QueryParser.parse(queries(qi).text), false)
        .filter(_.wide.isEmpty).map(pl => (pl, h))
    }.take(KernelProbes)
    replays.foreach { case (pl, h) =>
      val scan = idx.postings.filter($"term".isin(pl.terms.toSeq: _*)).collect()
      var ns = 0L
      val got = scan.groupBy(_.seg).toSeq.flatMap { case (seg, rs) =>
        val byTerm = Searcher.concatByTerm(rs.iterator)
        val t0 = System.nanoTime()
        val r = SegmentKernel.run(pl.query, byTerm, pl.scorers, p.k, floatMode = true,
          deletedOrds = idx.live.deleted(seg), seg = seg)
        ns += System.nanoTime() - t0
        r.toSeq
      }
      kernelMs += ns / 1e6
      rowsScanned += scan.length
      segsTouched += scan.map(_.seg).distinct.length
      check("exec.kernel_replay_matches_topk") {
        got.map { case (d, s) => (d, s.toFloat) }
          .sortBy { case (d, s) => (-s, d) }.take(p.k) == h
      }
    }
    val nk = math.max(1, replays.size)
    put("exec.kernel_ms_per_query", median(kernelMs.toSeq), "ms")
    put("exec.spark_overhead_ms", m("serve.query_p50_ms")._1 - median(kernelMs.toSeq) / p.cores, "ms")
    put("exec.posting_rows_scanned_per_query", rowsScanned.toDouble / nk, "count")
    put("exec.segments_touched_per_query", segsTouched.toDouble / nk, "count")
  }

  /** Traced runs only: the driver catalog (`driverapi`) over the generated
    * documents table. Times the prewarm steps these entries share, through
    * the Corpus builders `Queries.prewarm` runs for them, then one warm-up
    * pass and one timed pass over `CatalogEntries`. Each entry's rows and
    * oracle SQL go to the work directory; run.py checks them against
    * DuckDB once the JVM has ended, outside every timed region.
    */
  private def catalog(): Unit = {
    val dir = at("catalog")
    val prep = Seq[(String, () => Any)](
      "idx_std" -> (() => {
        val (ix, mapping) = Corpus.get(spark, dir)
        ix.postings.count(); ix.termStats.count(); mapping.count()
      }),
      "doc_tokens" -> (() => Corpus.docTokens(spark, dir).count()))
    prep.foreach { case (step, body) =>
      call(s"catalog.prep.$step")(body()).foreach { case (_, s) =>
        put(s"driverapi.prep.${step}_s", s, "s") }
    }
    val entries = SparkEntry.queries
    CatalogEntries.foreach(e => call("catalog.warmup", e)(entries(e)(spark, dir).collect()))
    val out = work.resolve("catalog_out")
    CatalogEntries.foreach { e =>
      call("catalog.entry", e) {
        val df = entries(e)(spark, dir)
        (df.schema, df.collect())
      }.foreach { case ((schema, rows), _) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.parquet(out.resolve(e).toString)
      }
    }
    Files.writeString(work.resolve("catalog_oracle.json"), CatalogEntries
      .map(e => s"${q(e)}:${SparkEntry.oracleSql.get(e).map(q).getOrElse("null")}")
      .mkString("{", ",", "}"))
    put("driverapi.family_s.ft", samples("catalog.entry").sum, "s")
  }

  /** Per-call Spark work seen by the witness, as per-layer metrics. */
  private def witnessMetrics(w: Witness): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val by = w.byLabel()
    def per(label: String)(f: Work => Double): Double = by.get(label) match {
      case Some((n, work)) if n > 0 => f(work) / n
      case _ => 0.0
    }
    val n = p.docs.toDouble
    put("build.route_shuffle_bytes_per_doc", per("update.build")(_.shuffleWriteBytes) / n, "B/doc")
    put("build.write_bytes_per_doc", per("update.build")(_.outputBytes) / n, "B/doc")
    put("build.jobs", per("update.build")(_.jobs), "count")
    put("build.tasks", per("update.build")(_.tasks), "count")
    put("build.gc_frac", by.get("update.build").map { case (_, x) =>
      x.gcMs.toDouble / math.max(1L, x.runMs) }.getOrElse(0.0), "ratio")
    put("build.spill_bytes", per("update.build")(_.spillBytes), "B")
    put("build.resume_bytes_written", per("update.resume")(_.outputBytes), "B")
    put("build.merge_bytes_rewritten", per("update.merge")(_.outputBytes), "B")
    put("build.merge_jobs", per("update.merge")(_.jobs), "count")
    put("build.livedocs_jobs", per("update.reopen")(_.jobs), "count")
    put("query.stats_jobs_per_cold_query", per("probe.plan_cold")(_.jobs), "count")
    put("exec.jobs_per_query", per("serve.topk")(_.jobs), "count")
    put("exec.tasks_per_query", per("serve.topk")(_.tasks), "count")
    put("exec.batch_jobs", per("serve.batch")(_.jobs), "count")
    put("exec.input_bytes_per_query", per("serve.topk")(_.inputBytes), "B")
    put("streaming.jobs_per_round", per("update.ingest")(_.jobs), "count")
    put("driverapi.jobs_per_entry", per("catalog.entry")(_.jobs), "count")
    put("driverapi.tasks_per_entry", per("catalog.entry")(_.tasks), "count")
    put("streaming.shuffle_bytes_per_round", per("update.ingest")(w => (w.shuffleReadBytes + w.shuffleWriteBytes).toDouble), "B")
  }

  // ---------------------------------------------------------------- run

  /** JSON string and number literals. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** A phase of the run: a span, plus a progress line on stderr. */
  private def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    System.err.println(f"[perfbench] $name%-20s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  def run(): String = {
    // the run's own workload goes first, so its figures in a traced run
    // compare with an untraced run's; a traced run measures both phases,
    // the single-thread probes and the catalog, for every per-layer metric
    val phases = Seq[(String, () => Unit)](
      "serve" -> (() => serveRead(if (p.trace) TraceMinSamples else MinSamples)),
      "update" -> (() => updateWrite()))
    require(phases.exists(_._1 == p.workload), s"unknown workload ${p.workload}")
    tracer.span("workload", p.workload) {
      val own = phases.sortBy(_._1 != p.workload)
      (if (p.trace) own else own.take(1)).foreach { case (name, body) => phase(name)(body()) }
      if (p.trace) phase("probes")(probes(servedIndex, servedAnswers))
      if (p.trace) phase("catalog")(catalog())
    }
    secs.toSeq.sortBy(_._1).foreach { case (label, xs) =>
      System.err.println(f"[perfbench] $label%-20s n=${xs.size}%3d total ${xs.sum}%7.2f s " +
        xs.take(8).map(x => f"$x%.3f").mkString(" "))
    }
    witness.foreach(witnessMetrics)
    if (p.trace) tracer.write(work.resolve("spans.jsonl"))
    val correct = checks.nonEmpty && checks.values.forall(identity) && failed == 0
    val metrics =
      if (p.trace) m.toSeq
      else Bench.EndToEnd.map(k => k -> m.getOrElse(s"${p.workload}.$k", (Double.NaN, "")))
    val rt = Runtime.getRuntime
    val env = Seq(
      "nproc" -> rt.availableProcessors().toString,
      "spark_threads" -> p.cores.toString,
      "heap_max_bytes" -> rt.maxMemory().toString,
      "java_version" -> q(System.getProperty("java.version")),
      "jvm" -> q(System.getProperty("java.vm.name")),
      "spark_version" -> q(spark.version))
    val selfMs = tracer.selfTimes.map { case (name, n, total, self) =>
      s"${q(name)}:{" + s""""count":$n,"total_ms":${num(total / 1e6)},"self_ms":${num(self / 1e6)}}"""
    }
    Seq(
      s""""correct":$correct""",
      s""""attempted":$attempted""",
      s""""failed":$failed""",
      "\"metrics\":" + metrics.map { case (k, (v, u)) =>
        s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}""" }.mkString("{", ",", "}"),
      "\"checks\":" + checks.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"),
      "\"errors\":" + errors.map(q).mkString("[", ",", "]"),
      "\"env\":" + env.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"),
      "\"spans\":" + selfMs.mkString("{", ",", "}"),
      "\"traffic\":" + shapes.map { case (k, share, ms) =>
        s"""${q(k)}:{"share":${num(share)},"p50_ms":${num(ms)}}""" }.mkString("{", ",", "}")
    ).mkString("{", ",", "}")
  }
}
