package graft

import graft.build.{Datagen, Index, IndexBuilder, InputDoc, MapLiveDocs}
import graft.exec.Searcher
import graft.query._

/** Cross-path differential: a resident index (queries seek the cached
  * per-segment term-dictionary images) against the SAME data served by
  * the filtered postings scan (an Index wrapped around the resident
  * one's `postings`, which carries no images) and against the
  * exhaustive oracle — through every execution entry point, in double
  * and float mode, with and without live deletes.
  */
class ResidentPathSpec extends SparkTest {
  import spark.implicits._

  private lazy val docs: Seq[InputDoc] = {
    val rows = (0L until 800L).map(i => Datagen.row(13L, i, 15, 200))
    rows.zipWithIndex.map { case (r, i) =>
      val path = s"d${i % 7}/f${i % 53}_$i.x"
      val key = s"${r.repo}/$path@${r.commit}"
      val seg = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), 3)
      InputDoc(seg, key, r.repo, path, r.commit, r.lang, r.content)
    }
  }
  private lazy val resident = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
  private lazy val oracleDocs = NaiveOracle.fromContentsWithPath(
    docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
      ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
        ((seg.toLong << IndexBuilder.SegShift) | ord.toLong, d.content, d.path)
      }
    })

  /** The scan-path twin of `ix`: same datasets and deletes, no images. */
  private def scanOf(ix: Index): Index = {
    val aligned = ix.segAligned
    new Index(ix.postings, ix.docmeta, ix.termStats, ix.fieldStats, ix.live, () => aligned)
  }

  /** One query of each shape the random generator draws from. */
  private val fixedShapes: Seq[Query] = Seq(
    TermQ("def"), TermQ("nonexistent_a"), TermQ("@path:d3"),
    PhraseQ(Seq("class", "camelcasename7")), PhraseQ(Seq("def", "class", "def"), slop = 2),
    PrefixQ("ident_1"), PrefixQ("@path:f1"), PrefixQ("zzz"),
    SynonymQ(Seq("def", "val")),
    DisMaxQ(Seq(TermQ("def"), TermQ("return")), 0.5d),
    FuzzyQ("ident_3", 1, maxExpansions = 3), FuzzyQ("@path:d3", 1),
    WildcardQ("c?mel*"), WildcardQ("@path:*7"), RegexpQ("ident_[12]"),
    TermRangeQ("ident_1", "ident_2", true, false),
    ConstScoreQ(TermQ("val"), 2f),
    MultiPhraseQ(Seq(Seq("class"), Seq("camelcasename1", "camelcasename7"))),
    PhrasePrefixQ(Seq("class"), "camel", 50),
    CombinedFieldQ("x", Seq(("content", 1f), ("path", 2f))),
    BoostQ(TermQ("def"), 2f),
    BlendedTermQ(Seq("def", "val")),
    IntervalQ(IOrderedS(Seq(ITermS("def"), ITermS("class")))),
    BoolQ(must = Seq(TermQ("def")), should = Seq(TermQ("val")),
      mustNot = Seq(TermQ("ident_3")), filter = Seq(PrefixQ("camel"))))

  private def topK(ix: Index, q: Query, dm: Boolean): Seq[(Long, Double)] =
    Searcher.topKQ(ix, q, 10, doubleMode = dm).collect()
      .map(r => (r.getLong(0), if (dm) r.getDouble(1) else r.getFloat(1).toDouble)).toSeq

  /** scoredMatches ranked like topKQ: (score desc, docId asc), first 10. */
  private def scoredTop(ix: Index, q: Query, dm: Boolean): Seq[(Long, Double)] =
    Searcher.scoredMatches(ix, q, doubleMode = dm).collect()
      .map(r => (r.getLong(0), if (dm) r.getDouble(1) else r.getFloat(1).toDouble)).toSeq
      .sortBy { case (d, s) => (-s, d) }.take(10)

  private def docsOf(ix: Index, q: Query): Seq[Long] =
    Searcher.matchingDocs(ix, q).collect().map(_.longValue).sorted.toSeq

  test("resident == scan == oracle: fixed shapes + 60 random trees, every entry point, double and float") {
    val scan = scanOf(resident)
    assert(resident.images.isDefined && scan.images.isEmpty)
    val rnd = new scala.util.Random(20261017)
    val queries = fixedShapes ++ (1 to 60).map(_ => RandomQueries.randomQuery(rnd, 2))
    queries.zipWithIndex.foreach { case (q, i) =>
      val expected = NaiveOracle.search(oracleDocs, q, 10).map { case (d, s) => (d, s.toDouble) }
      for (dm <- Seq(false, true)) {
        val got = topK(resident, q, dm)
        assert(got == topK(scan, q, dm), s"#$i topKQ double=$dm [$q]")
        if (!dm) assert(got == expected, s"#$i topKQ float vs oracle [$q]:\n got=$got\n exp=$expected")
        assert(scoredTop(resident, q, dm) == got, s"#$i scoredMatches double=$dm [$q]")
        assert(scoredTop(scan, q, dm) == got, s"#$i scan scoredMatches double=$dm [$q]")
      }
      val expDocs = NaiveOracle.matchingDocs(oracleDocs, q)
      assert(docsOf(resident, q) == expDocs, s"#$i matchingDocs [$q]")
      assert(docsOf(scan, q) == expDocs, s"#$i scan matchingDocs [$q]")
      assert(Searcher.countQ(resident, q) == expDocs.size, s"#$i countQ [$q]")
      assert(Searcher.countQ(scan, q) == expDocs.size, s"#$i scan countQ [$q]")
    }
    // topKBatch: one job per index for the whole set, per mode
    val named = queries.zipWithIndex.map { case (q, i) => (f"q$i%03d", q) }
    for (dm <- Seq(false, true)) {
      def batch(ix: Index) = Searcher.topKBatch(ix, named, 10, doubleMode = dm).collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (dm) r.getDouble(2) else r.getFloat(2).toDouble, r.getLong(3))).toSeq
      val viaResident = batch(resident)
      assert(viaResident == batch(scanOf(resident)), s"topKBatch double=$dm")
      named.foreach { case (qid, q) =>
        assert(viaResident.filter(_._1 == qid).map(r => (r._2, r._3)) == topK(resident, q, dm),
          s"topKBatch vs topKQ double=$dm $qid [$q]")
      }
    }
  }

  test("over-cap wide prefix: resident == scan == oracle, with and without live deletes") {
    val rnd = new scala.util.Random(5)
    val deleted = oracleDocs.map(_.docId).filter(_ => rnd.nextDouble() < 0.15).toSet
    val live = MapLiveDocs(deleted.toSeq.groupBy(IndexBuilder.segOf)
      .map { case (s, ids) => s -> ids.sorted.toArray })
    val withDeletes = new Index(resident.postings, resident.docmeta, resident.termStats,
      resident.fieldStats, live, () => true, resident = resident.resident)
    val shapes = Seq(PrefixQ("ident_"), BoolQ(must = Seq(TermQ("def")), filter = Seq(PrefixQ("ident_"))))
    for ((ix, gone) <- Seq((resident, Set.empty[Long]), (withDeletes, deleted)); q <- shapes) {
      Query.withMaxClauseCount(8) {
        val expected = NaiveOracle.search(oracleDocs, q, Int.MaxValue)
          .filterNot(h => gone.contains(h._1)).take(10)
        val got = Searcher.topKQ(ix, q, 10).as[(Long, Float)].collect().toSeq
        assert(got == expected, s"deletes=${gone.nonEmpty} [$q]:\n got=$got\n exp=$expected")
        assert(Searcher.topKQ(scanOf(ix), q, 10).as[(Long, Float)].collect().toSeq == got)
        val expDocs = NaiveOracle.matchingDocs(oracleDocs, q).filterNot(gone.contains)
        assert(docsOf(ix, q) == expDocs && docsOf(scanOf(ix), q) == expDocs)
        assert(Searcher.countQ(ix, q) == expDocs.size && Searcher.countQ(scanOf(ix), q) == expDocs.size)
      }
    }
  }

  test("terms outside the BMP: images sort in Spark's UTF-8 order; resident == scan; wide == expanded") {
    // whitespace-analyzed tokens around the UTF-16 / UTF-8 order split:
    // U+E000..U+FFFF sort AFTER a surrogate pair in UTF-16 but BEFORE it
    // in UTF-8 (Spark's string order)
    val tokens = Seq("x\uD83D\uDE00", "x\uD83D\uDE00y", "x\uFFFD", "x\uE000", "x\uFFFF",
      "x\uD835\uDCB3", "\uD83D\uDE01z", "\uD83D\uDE00", "xa", "xb", "def", "val")
    val emojiDocs = (0 until 90).map { i =>
      val content = (0 until 6).map(j => tokens((i * 7 + j * j + i / 5) % tokens.length)).mkString(" ")
      InputDoc(i % 3, f"$i%04d", "r", s"p$i", "c", "l", content)
    }
    val res = IndexBuilder.buildInMemory(spark, spark.createDataset(emojiDocs), analyzerMode = "ws")
    val scan = scanOf(res)
    res.images.get.collect().foreach { img =>
      val sparkOrder = res.postings.filter($"seg" === img.seg).select($"term")
        .orderBy($"term").as[String].collect().toSeq
      assert((0 until img.numTerms).map(img.termAt) == sparkOrder, s"seg ${img.seg} term order")
    }
    val queries: Seq[Query] = tokens.map(TermQ(_)) ++ Seq(
      PrefixQ("x"), PrefixQ("x\uD83D\uDE00"), PrefixQ("x\uFFFD"), WildcardQ("x?"), RegexpQ("x.+"),
      TermRangeQ("x\uE000", "x\uD83D\uDE00", true, true),
      TermRangeQ("x\uD83D\uDE00", "x\uFFFF", true, true),
      TermRangeQ("x\uFFFD", "x\uD835\uDCB3", false, true),
      BoolQ(should = Seq(TermQ("x\uD83D\uDE00"), TermQ("x\uFFFF")), minShouldMatch = 1))
    queries.foreach { q =>
      val got = topK(res, q, dm = true)
      assert(got == topK(scan, q, dm = true), s"topKQ [$q]")
      val all = docsOf(res, q)
      assert(all == docsOf(scan, q), s"matchingDocs [$q]")
      q match {
        case PrefixQ(_) | WildcardQ(_) | RegexpQ(_) | TermRangeQ(_, _, _, _) =>
          // a cap of 1 turns every multi-term expansion wide: the
          // executor-side match must select the same set as the expanded
          // disjunction, on both paths
          Query.withMaxClauseCount(1) {
            assert(docsOf(res, q) == all, s"wide resident [$q]")
            assert(docsOf(scan, q) == all, s"wide scan [$q]")
            assert(Searcher.countQ(res, q) == all.size, s"wide count [$q]")
          }
        case _ =>
      }
    }
    assert(docsOf(res, TermQ("x\uD83D\uDE00")).nonEmpty, "supplementary term not indexed")
  }

  test("image of salt-split merge output: one entry per term, resident == scan") {
    // a tiny row cap splits every frequent term into several rows
    val merged = graft.build.IndexMerger.forceMerge(spark, resident, numPartitions = 4,
      maxPostingsPerRow = 64)
    assert(merged.postings.groupBy($"term").count().filter($"count" > 1).count() > 0)
    val segs = merged.postings.groupByKey(_.seg).mapGroups((s, rows) =>
      graft.build.ResidentSegment(graft.build.SegmentImage.of(s, rows), Array.empty))
    val image = new Index(merged.postings, merged.docmeta, merged.termStats,
      merged.fieldStats, resident = Some(segs))
    val img = image.images.get.collect().head
    val terms = (0 until img.numTerms).map(img.termAt)
    assert(terms.distinct.size == terms.size)
    assert(terms == merged.postings.select($"term").distinct().orderBy($"term").as[String].collect().toSeq)
    val scan = scanOf(merged)
    for (q <- fixedShapes) {
      assert(topK(image, q, dm = false) == topK(scan, q, dm = false), s"merged [$q]")
      assert(Searcher.countQ(image, q) == Searcher.countQ(scan, q), s"merged count [$q]")
    }
  }
}

/** Structural witnesses of the resident path: a warm top-k is ONE Spark
  * job, and every block a resident index caches is a Dataset cache that
  * `spark.catalog.clearCache()` releases.
  */
class ResidentWitnessSpec extends SparkTest {

  test("warm topK on a resident index launches one job; clearCache leaves no cached block") {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 600, seed = 3L), 4)
    val index = IndexBuilder.buildInMemory(spark, docs)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Any): Int = {
      org.apache.spark.graft.TestBus.drain(sc)
      jobs.set(0)
      body
      org.apache.spark.graft.TestBus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      for (q <- Seq("def AND class", "val OR needle_0", "ident_3~1", "\"class camelCaseName7\"")) {
        val cold = Searcher.topK(index, q, 10).collect()
        assert(jobsOf(assert(Searcher.topK(index, q, 10).collect().toSeq == cold.toSeq)) == 1,
          s"warm [$q]")
        // the merge happened in that job: the result is a local relation
        assert(Searcher.topK(index, q, 10).queryExecution.analyzed
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], q)
      }
    } finally sc.removeSparkListener(listener)
    spark.catalog.clearCache()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def left = sc.getRDDStorageInfo.map(_.id).toSet -- before
    while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(left.isEmpty, s"cached RDDs survive clearCache: ${left.mkString(",")}")
  }
}
