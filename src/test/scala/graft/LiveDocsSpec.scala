package graft

import graft.analysis.CodeAnalyzer
import graft.build.{CheckIndex, Datagen, FileLiveDocs, IndexBuilder, IndexFs}
import graft.exec.Searcher
import graft.model.SourceRow
import graft.query.TermQ
import graft.streaming.StreamingIndexer

/** Writer-side deletes (delete generations): deletes resolve when they
  * are written, so opening an updated index is metadata reads only — the
  * reader loads sidecars, it never resolves anything (Lucene's
  * `SegmentCommitInfo` delGen/delCount + `.liv` files).
  */
class LiveDocsSpec extends SparkTest {
  import spark.implicits._

  test("open after deletes and an update round runs no Spark job") {
    val base = java.nio.file.Files.createTempDirectory("graftlivedocs").toString
    val dir = s"$base/idx"
    val rows = Datagen.corpus(spark, 600, seed = 71L).collect().toSeq
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(rows.toDS(), 4), dir)
    val snap = IndexBuilder.commitSnapshot(dir)
    val queries = Seq("def", "needle_0", "def AND class", "ident_2*")
    def tops(ix: graft.build.Index) =
      queries.map(q => Searcher.topK(ix, q, 10).as[(Long, Float)].collect().toSeq)
    val topsBefore = tops(IndexBuilder.open(spark, dir))

    // model: (repo, path, commit) -> content of every live doc
    val model = scala.collection.mutable.Map(rows.map(r => (r.repo, r.path, r.commit) -> r.content): _*)
    val victims = model.keys.filter(k => CodeAnalyzer.terms(model(k)).contains("needle_0")).toSeq
    assert(victims.nonEmpty)
    assert(IndexBuilder.deleteDocs(spark, dir, victims.toDF("repo", "path", "commit")) == victims.size)
    victims.foreach(model.remove)
    // a retried delete finds nothing left to delete and commits no record
    val records = IndexFs.listNames(s"$dir/livedocs").filter(_.startsWith("del_"))
    assert(IndexBuilder.deleteDocs(spark, dir, victims.toDF("repo", "path", "commit")) == 0)
    assert(IndexFs.listNames(s"$dir/livedocs").filter(_.startsWith("del_")) == records)

    // one streaming update round re-versions 100 keys (some already deleted)
    val updates = rows.sortBy(_.path).take(100).map(r =>
      r.copy(commit = "u" + r.commit.take(39), content = r.content + " updneedle"))
    updates.toDS().write.parquet(s"$base/in")
    StreamingIndexer.runAvailableNow(spark, s"$base/in", dir, segsPerBatch = 2, update = true)
    updates.foreach { u =>
      model.keys.filter(k => k._1 == u.repo && k._2 == u.path).toSeq.foreach(model.remove)
      model((u.repo, u.path, u.commit)) = u.content
    }

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(sc)
    sc.addSparkListener(listener)
    val idx =
      try {
        val ix = IndexBuilder.open(spark, dir)
        org.apache.spark.graft.TestBus.drain(sc)
        ix
      } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"open launched ${jobs.get} Spark jobs")
    assert(idx.live.isInstanceOf[FileLiveDocs])

    assert(idx.docmeta.count() == model.size)
    Seq("def", "class", "needle_0", "updneedle", "ident_7").foreach { t =>
      assert(Searcher.countQ(idx, TermQ(t)) ==
        model.valuesIterator.count(c => CodeAnalyzer.terms(c).contains(t)), s"count[$t]")
    }
    assert(CheckIndex.run(idx).isEmpty)

    // the snapshot taken before any delete still sees the whole corpus
    val s = IndexBuilder.open(spark, dir, snapshot = Some(snap))
    assert(s.docmeta.count() == rows.size)
    assert(tops(s) == topsBefore)
  }

  test("CheckIndex reports a corrupted delete sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graftcheckld").toString
    IndexBuilder.buildPersistent(spark,
      Datagen.toInputDocs(Datagen.corpus(spark, 300, seed = 73L), 3), dir)
    IndexBuilder.deleteDocs(spark, dir, IndexBuilder.open(spark, dir).docmeta
      .filter($"docId" % 4 === 0).select($"repo", $"path", $"commit"))
    val idx = IndexBuilder.open(spark, dir)
    assert(CheckIndex.run(idx).isEmpty)

    // rewrite one sidecar: one id too many, descending, past the segment end
    val e = idx.live.asInstanceOf[FileLiveDocs].entries.values.minBy(_.seg)
    val lo = e.seg.toLong << IndexBuilder.SegShift
    val bad = Seq(lo + e.docs, lo + 1, lo) ++ Seq.fill(e.count.toInt - 2)(lo + 2)
    val p = new org.apache.hadoop.fs.Path(s"$dir/livedocs/${e.sidecar}")
    val out = new java.io.DataOutputStream(IndexFs.fsOf(p).create(p, true))
    try { out.writeInt(bad.length); bad.foreach(out.writeLong) } finally out.close()

    val errs = CheckIndex.run(idx)
    assert(errs.exists(m => m.contains(e.sidecar) && m.contains("record says")), errs)
    assert(errs.exists(_.contains("not strictly ascending")), errs)
    assert(errs.exists(_.contains("outside the segment")), errs)
  }

  test("a rebuilt segment does not inherit its predecessor's deletes") {
    val dir = java.nio.file.Files.createTempDirectory("graftrebuild").toString
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 300, seed = 75L), 3).collect().toSeq
    IndexBuilder.buildPersistent(spark, docs.toDS(), dir)
    val victims = IndexBuilder.open(spark, dir).docmeta.filter($"docId" % 3 === 0)
      .select($"repo", $"path", $"commit").as[(String, String, String)].collect().toSeq
    assert(IndexBuilder.deleteDocs(spark, dir, victims.toDF("repo", "path", "commit")) == victims.size)

    // segment 0's input slice changes: resume rebuilds it (same seg id, new
    // ordinals, new generation); its old sidecar must stop applying, and
    // the re-supplied versions of its deleted keys are new, live docs
    val extra = graft.build.InputDoc(0, "zz/extra", "zz", "extra.scala", "c0", "scala", "object zzextra")
    IndexBuilder.buildPersistent(spark, (docs :+ extra).toDS(), dir)
    val idx = IndexBuilder.open(spark, dir)
    val seg0 = docs.filter(_.seg == 0).map(d => (d.repo, d.path, d.commit)).toSet
    val stillDeleted = victims.count(v => !seg0.contains(v))
    assert(idx.live.deletedCount == stillDeleted)
    assert(idx.docmeta.count() == docs.size + 1 - stillDeleted)
    assert(Searcher.countQ(idx, TermQ("zzextra")) == 1)
    assert(CheckIndex.run(idx).isEmpty)
  }
}
