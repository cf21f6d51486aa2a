package graft

import graft.build.{Datagen, IndexBuilder}
import graft.exec.Searcher
import org.apache.spark.sql.SparkSession

/** spark-submit surface of the engine.
  *
  * Usage:
  *   graft.Cli build  <indexDir> <numDocs> <numSegments>   — synth corpus -> persistent index (resumable)
  *   graft.Cli search <indexDir> <k> <query...>            — top-k BM25 over a built index
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args.toList match {
        case "build" :: dir :: nDocs :: nSegs :: Nil =>
          val t0 = System.nanoTime()
          val docs = Datagen.toInputDocs(Datagen.corpus(spark, nDocs.toLong), nSegs.toInt)
          val manifests = IndexBuilder.buildPersistent(spark, docs, dir)
          val secs = (System.nanoTime() - t0) / 1e9
          manifests.foreach(m => println(
            s"seg=${m.seg} status=${m.status} docs=${m.docs} postings=${m.postings} bytes=${m.bytes} fp=${m.inputFingerprint}"))
          println(f"build: ${nDocs.toLong} docs in $secs%.1fs (${nDocs.toLong / secs}%.0f docs/sec)")
        case "search" :: dir :: k :: qparts if qparts.nonEmpty =>
          val index = IndexBuilder.open(spark, dir)
          val q = qparts.mkString(" ")
          val t0 = System.nanoTime()
          val hits = Searcher.topK(index, q, k.toInt).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(s"query [$q] -> ${hits.length} hits in ${ms.round}ms")
          hits.foreach(r => println(f"  doc=${r.getLong(0)} score=${r.getFloat(1)}%.4f"))
        case "serve" :: dir :: k :: rest if rest.size <= 1 =>
          // long-lived reader: per-segment term-dictionary images cached
          // up front, then every query is one job over them with warm
          // stats/rewrite caches; queries stream from a file (one per
          // line) or stdin
          val index = IndexBuilder.open(spark, dir, serving = true)
          index.images.foreach(_.count()) // materialise the images
          val lines = rest match {
            case file :: Nil => scala.io.Source.fromFile(file).getLines()
            case _ =>
              println("serving (one query per line, EOF to exit)")
              scala.io.Source.stdin.getLines()
          }
          lines.filter(_.nonEmpty).foreach { q =>
            val t0 = System.nanoTime()
            val hits = Searcher.topK(index, q, k.toInt).collect()
            val ms = (System.nanoTime() - t0) / 1e6
            println(s"query [$q] -> ${hits.length} hits in ${ms.round}ms")
            hits.foreach(r => println(f"  doc=${r.getLong(0)} score=${r.getFloat(1)}%.4f"))
          }
        case "searchbatch" :: dir :: k :: file :: Nil =>
          // ONE Spark job for the whole query file (throughput mode):
          // union scan, one kernel pass per segment, partitioned-window
          // rank per query
          val index = IndexBuilder.open(spark, dir)
          val qs = scala.io.Source.fromFile(file).getLines().filter(_.nonEmpty).toSeq
            .map(q => q -> graft.query.QueryParser.parse(q))
          val t0 = System.nanoTime()
          val rows = Searcher.topKBatch(index, qs, k.toInt).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(s"batch: ${qs.size} queries -> ${rows.length} hits in ${ms.round}ms (one job)")
          rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach { case (qid, hs) =>
            println(s"query [$qid] -> ${hs.length} hits")
            hs.sortBy(_.getLong(3)).take(3).foreach(r =>
              println(f"  doc=${r.getLong(1)} score=${r.getFloat(2)}%.4f rank=${r.getLong(3)}"))
          }
        case "buildfrom" :: src :: dir :: nSegs :: rest if rest.size <= 1 =>
          // index a REAL source table (Iceberg-shaped schema
          // repo/path/commit/lang/content); format defaults to parquet,
          // "iceberg"/"table" select other catalogs — see SourceReader
          val fmt = rest.headOption.getOrElse("parquet")
          val t0 = System.nanoTime()
          val docs = graft.build.SourceReader.readDocs(spark, src, nSegs.toInt, fmt)
          val manifests = IndexBuilder.buildPersistent(spark, docs, dir)
          val secs = (System.nanoTime() - t0) / 1e9
          val total = manifests.map(_.docs).sum
          manifests.foreach(m => println(
            s"seg=${m.seg} status=${m.status} docs=${m.docs} postings=${m.postings} bytes=${m.bytes}"))
          println(f"buildfrom: $total docs in $secs%.1fs (${total / secs}%.0f docs/sec)")
        case "delete" :: dir :: repo :: path :: commit :: Nil =>
          // IndexWriter.deleteDocuments(Term) analogue: resolved now into a
          // new delete generation; readers see it on next open, merges
          // purge physically
          import spark.implicits._
          val n = IndexBuilder.deleteDocs(spark, dir,
            Seq((repo, path, commit)).toDF("repo", "path", "commit"))
          println(s"deleted $n doc(s) matching ($repo, $path, $commit)")
        case "merge" :: dir :: Nil =>
          val ms = graft.build.IndexMerger.tieredMerge(spark, dir)
          if (ms.isEmpty) println("merge: nothing over budget")
          else ms.foreach(m => println(
            s"merged -> seg=${m.seg} docs=${m.docs} postings=${m.postings} bytes=${m.bytes}"))
        case "snapshot" :: dir :: Nil =>
          // SnapshotDeletionPolicy analogue: pin the current commit point
          val id = IndexBuilder.commitSnapshot(dir)
          println(s"snapshot $id pinned (retained: ${IndexBuilder.listSnapshots(dir).mkString(", ")})")
        case "release" :: dir :: id :: Nil =>
          println(if (IndexBuilder.releaseSnapshot(dir, id.toInt))
            s"snapshot $id released" else s"no snapshot $id")
        case "purge" :: dir :: Nil =>
          // IndexFileDeleter analogue: delete generation dirs nothing
          // references, once past the reader lease
          val purged = IndexBuilder.purgeGenerations(dir)
          println(if (purged.isEmpty) "purge: nothing eligible"
            else s"purged ${purged.mkString(", ")}")
        case "searchat" :: dir :: snapId :: k :: qparts if qparts.nonEmpty =>
          // point-in-time search over a pinned snapshot
          val index = IndexBuilder.open(spark, dir, snapshot = Some(snapId.toInt))
          val q = qparts.mkString(" ")
          val hits = Searcher.topK(index, q, k.toInt).collect()
          println(s"query [$q] @snapshot $snapId -> ${hits.length} hits")
          hits.foreach(r => println(f"  doc=${r.getLong(0)} score=${r.getFloat(1)}%.4f"))
        case "spell" :: dir :: k :: term :: Nil =>
          // DirectSpellChecker analogue: "did you mean" from the dictionary
          val index = IndexBuilder.open(spark, dir)
          val sugs = graft.exec.Suggest.didYouMean(index, term, k.toInt).collect()
          if (sugs.isEmpty) println(s"spell [$term]: no suggestions")
          else sugs.foreach(r => println(
            f"  ${r.getString(0)}%-24s score=${r.getDouble(1)}%.4f df=${r.getLong(2)}"))
        case "suggest" :: dir :: mode :: k :: input :: Nil =>
          // completion surfaces: prefix | infix | fuzzy
          val index = IndexBuilder.open(spark, dir)
          val rows = (mode match {
            case "infix" => graft.exec.Suggest.completeInfix(index, input, k.toInt)
            case "fuzzy" => graft.exec.Suggest.completeFuzzy(index, input, k.toInt)
            case _ => graft.exec.Suggest.completePrefix(index, input, k.toInt)
          }).collect()
          rows.foreach(r => println(f"  ${r.getString(0)}%-24s weight=${r.getLong(1)}"))
        case "highlight" :: dir :: docsParquet :: k :: qparts if qparts.nonEmpty =>
          // top-k + best passage per hit (UnifiedHighlighter surface).
          // Snippets need the stored text, which lives in the SOURCE
          // table (the index stores postings, not raw content) — pass
          // the parquet the index was built from (text or content col)
          val index = IndexBuilder.open(spark, dir)
          val q = qparts.mkString(" ")
          val parsed = graft.query.QueryParser.parse(q)
          val terms = graft.query.Query.positiveTerms(parsed)
          val hits = Searcher.topKQ(index, parsed, k.toInt).collect()
          val src = spark.read.parquet(docsParquet)
          val textCol = if (src.columns.contains("text")) "text" else "content"
          val idCol = if (src.columns.contains("doc_id")) "doc_id" else src.columns.head
          // index docIds are (seg<<shift)|ord — resolve to source ids via
          // docmeta.commit, which the build contract fills with the
          // source row id (see Corpus/SourceReader)
          val wanted = hits.map(_.getLong(0)).toSet
          import spark.implicits._
          val idOf = index.docmeta.filter($"docId".isin(wanted.toSeq.map(Long.box): _*))
            .select($"docId", $"commit").as[(Long, String)].collect().toMap
          val srcIds = idOf.values.toSet
          val byId = src.filter(org.apache.spark.sql.functions.col(idCol).cast("string")
              .isin(srcIds.toSeq: _*))
            .select(org.apache.spark.sql.functions.col(idCol).cast("string"),
              org.apache.spark.sql.functions.col(textCol))
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          val texts: Map[Long, String] =
            idOf.flatMap { case (d, c) => byId.get(c).map(d -> _) }
          println(s"query [$q] -> ${hits.length} hits")
          hits.foreach { r =>
            val id = r.getLong(0)
            val snip = texts.get(id)
              .flatMap(t => graft.exec.Highlighter.bestPassage(t, terms))
              .map(p => s"...${p.snippet}...").getOrElse("(no stored text)")
            println(f"  doc=$id score=${r.getFloat(1)}%.4f  $snip")
          }
        case "check" :: dir :: Nil =>
          // CheckIndex analogue: structural invariants over the whole index
          val violations = graft.build.CheckIndex.run(IndexBuilder.open(spark, dir))
          if (violations.isEmpty) println("CheckIndex: OK (no violations)")
          else { violations.foreach(v => println(s"VIOLATION: $v")); sys.exit(1) }
        case "explain" :: dir :: Nil =>
          // plan audit: verify pushdown/pruning/broadcast on the hot paths
          import org.apache.spark.sql.functions._
          val index = IndexBuilder.open(spark, dir)
          println("=== postings scan for a 2-term query (expect PushedFilters on term/kind) ===")
          index.postings.filter(col("term").isin("def", "class")).explain("formatted")
          println("=== top-k reduce (expect TakeOrderedAndProject) ===")
          Searcher.topK(index, "def AND class", 10).explain("formatted")
          println("=== docmeta projection (expect ReadSchema with 2 cols) ===")
          index.docmeta.select("docId", "norm").explain("formatted")
          println("=== fuzzy candidate scan (expect range-pruned PushedFilters, no full-vocab scan) ===")
          Searcher.fuzzyCandidates(index, graft.query.FuzzyQ("def", 1)).explain("formatted")
        case "explainq" :: sfDir :: names =>
          // plan audit for driver-catalog queries (scale-shape review):
          // look for unpartitioned WindowExec over large inputs, missing
          // broadcasts, full-column scans
          names.foreach { name =>
            println(s"=== $name ===")
            driverapi.Queries.all(name)._1(spark, sfDir).explain("formatted")
          }
        case _ =>
          System.err.println("usage: build <dir> <nDocs> <nSegs> | buildfrom <srcPathOrTable> <dir> <nSegs> [format] | search <dir> <k> <query...> | searchat <dir> <snapId> <k> <query...> | serve <dir> <k> | searchbatch <dir> <k> <queriesFile> | delete <dir> <repo> <path> <commit> | merge <dir> | snapshot <dir> | release <dir> <snapId> | purge <dir> | check <dir> | explain <dir> | explainq <sfDir> <name...>")
          sys.exit(2)
      }
    } finally spark.stop()
  }
}
